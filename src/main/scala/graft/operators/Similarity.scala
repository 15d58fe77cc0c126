package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Approximate-nearest-neighbor search over an embedding column.
  *
  * Baseline: brute-force cosine top-k with pure built-in expressions
  * (`zip_with`+`aggregate` → whole-stage codegen, no UDF in the hot
  * path). Scale path: IVF — k-means-style coarse centroids, partition
  * probe — implemented as a bucketed pre-partitioning so a query only
  * scans nprobe buckets instead of the full corpus.
  */
object Similarity {

  /** dot(a, b) with built-in higher-order functions (codegen'd). */
  def dotCol(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => x * y), lit(0.0d), (acc, x) => acc + x)

  def normCol(a: Column): Column =
    sqrt(aggregate(transform(a, x => x * x), lit(0.0d), (acc, x) => acc + x))

  def cosineCol(a: Column, b: Column): Column =
    dotCol(a, b) / (normCol(a) * normCol(b))

  /** Brute-force top-k by cosine against one query vector. One scan +
    * one top-k sort (TakeOrderedAndProject — no full shuffle). */
  def bruteForceTopK(df: DataFrame, idCol: String, vecCol: String,
                     query: Array[Float], k: Int): DataFrame = {
    val qlit = typedLit(query.toSeq)
    df.select(col(idCol), cosineCol(col(vecCol).cast("array<double>"), qlit.cast("array<double>")).as("cosine"))
      .orderBy(desc("cosine"), col(idCol))
      .limit(k)
  }

  /** Batch top-k: for every query row (small dim table), the k nearest
    * corpus rows. Broadcast the queries; per-partition top-k via window. */
  def batchTopK(corpus: DataFrame, corpusId: String, corpusVec: String,
                queries: DataFrame, queryId: String, queryVec: String,
                k: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val joined = corpus.select(col(corpusId).as("cid"), col(corpusVec).cast("array<double>").as("cv"))
      .crossJoin(broadcast(queries.select(col(queryId).as("qid"), col(queryVec).cast("array<double>").as("qv"))))
      .withColumn("cosine", cosineCol(col("cv"), col("qv")))
    val w = Window.partitionBy(col("qid")).orderBy(desc("cosine"), col("cid"))
    joined.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("qid"), col("cid"), col("cosine"), col("rank"))
  }

  private def normalize(v: Array[Double]): Array[Double] = {
    var n = 0.0; var i = 0
    while (i < v.length) { n += v(i) * v(i); i += 1 }
    n = math.sqrt(n)
    if (n == 0) v else v.map(_ / n)
  }

  /** Index of the centroid with the largest dot product with `v` (the
    * first on ties): nearest by cosine for unit vectors. */
  private def nearestCentroid(cs: Array[Array[Double]], v: Array[Double]): Int = {
    var best = 0; var bestDot = Double.MinValue; var c = 0
    while (c < cs.length) {
      var dot = 0.0; var i = 0
      while (i < v.length) { dot += v(i) * cs(c)(i); i += 1 }
      if (dot > bestDot) { bestDot = dot; best = c }
      c += 1
    }
    best
  }

  /** Deterministic hash-sample of `nlist` vectors (k-means seeding). */
  private def sampleCentroids(df: DataFrame, vecCol: String, nlist: Int): Array[Array[Double]] =
    df.select(col(vecCol).cast("array<double>"))
      .orderBy(abs(hash(col(vecCol).cast("array<string>"))))
      .limit(nlist)
      .collect().map(r => normalize(r.getSeq[Double](0).toArray))

  /** Distributed spherical k-means (Lloyd iterations) for the IVF
    * coarse quantizer. Each iteration is ONE pass: map-side partial
    * (sum, count) per cell inside mapPartitions — so the shuffle-free
    * per-partition output is ≤ nlist rows — then a driver reduce over
    * the ≤ nlist×partitions partials (the classic treeAggregate shape;
    * driver state is O(nlist·dim), never O(data)). Centroids are
    * renormalized each round (assignment is by dot product = cosine on
    * unit vectors). Empty cells keep their previous centroid. */
  def kmeansCentroids(df: DataFrame, vecCol: String, nlist: Int,
                      iters: Int = 5): Array[Array[Double]] = {
    val spark = df.sparkSession
    import spark.implicits._
    var centroids = sampleCentroids(df, vecCol, nlist)
    val vecs = df.select(col(vecCol).cast("array<double>")).as[Seq[Double]]
    for (_ <- 1 to iters) {
      val b = spark.sparkContext.broadcast(centroids)
      val partials = vecs.mapPartitions { it =>
        val cs = b.value
        val dim = if (cs.nonEmpty) cs(0).length else 0
        val sums = Array.fill(cs.length)(new Array[Double](dim))
        val counts = new Array[Long](cs.length)
        it.foreach { sv =>
          val v = sv.toArray
          val best = nearestCentroid(cs, v)
          var i = 0
          while (i < dim) { sums(best)(i) += v(i); i += 1 }
          counts(best) += 1
        }
        (0 until cs.length).iterator
          .filter(counts(_) > 0).map(c => (c, sums(c).toSeq, counts(c)))
      }.collect() // ≤ nlist × partitions tiny rows
      val agg = Array.fill(centroids.length)(new Array[Double](centroids(0).length))
      val n = new Array[Long](centroids.length)
      partials.foreach { case (c, s, cnt) =>
        var i = 0
        while (i < s.length) { agg(c)(i) += s(i); i += 1 }
        n(c) += cnt
      }
      centroids = centroids.indices.map { c =>
        if (n(c) == 0) centroids(c) else normalize(agg(c))
      }.toArray
      b.destroy()
    }
    centroids
  }

  /** IVF index: assign each vector to its nearest of `nlist` coarse
    * centroids (spherical k-means, `kmeansIters` Lloyd rounds; 0 falls
    * back to the deterministic hash-sample seeding). Returns the corpus
    * augmented with a `ivf_cell` column; store partitioned by it so a
    * query scans only `nprobe` cells. */
  def ivfAssign(df: DataFrame, idCol: String, vecCol: String,
                nlist: Int = 64, kmeansIters: Int = 5): (DataFrame, Array[Array[Double]]) = {
    val spark = df.sparkSession
    val centroids =
      if (kmeansIters <= 0) sampleCentroids(df, vecCol, nlist)
      else kmeansCentroids(df, vecCol, nlist, kmeansIters)
    val b = spark.sparkContext.broadcast(centroids)
    val assignUdf = udf((v: Seq[Double]) => nearestCentroid(b.value, v.toArray))
    (df.withColumn("ivf_cell", assignUdf(col(vecCol).cast("array<double>"))), centroids)
  }

  /** IVF query: probe the `nprobe` cells nearest the query vector. */
  def ivfTopK(indexed: DataFrame, centroids: Array[Array[Double]],
              idCol: String, vecCol: String,
              query: Array[Float], k: Int, nprobe: Int = 8): DataFrame = {
    val qd = query.map(_.toDouble)
    def dot(a: Array[Double], b: Array[Double]): Double = {
      var s = 0.0; var i = 0
      while (i < a.length) { s += a(i) * b(i); i += 1 }
      s
    }
    val cells = centroids.zipWithIndex
      .sortBy { case (c, i) => (-dot(c, qd), i) }
      .take(nprobe).map(_._2)
    bruteForceTopK(indexed.filter(col("ivf_cell").isin(cells.toSeq: _*)), idCol, vecCol, query, k)
  }
}
