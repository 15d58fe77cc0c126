package graft.operators

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StringType}
import scala.reflect.runtime.universe.TypeTag

/** Deduplication operators for large-scale training-data pipelines.
  *
  * Scale design: every variant is candidate-generation → shuffle on a
  * SMALL key (hash/band/bucket) → within-group verify. No all-pairs
  * joins; the only O(n²) work is inside hash buckets whose size is
  * bounded by the banding parameters. Signatures are computed in one
  * pass per row (UDF over the text, no explode of shingles across rows).
  * `hammingPairs` is the one exact Hamming pigeonhole join: SimHash
  * documents (`simhashPairs`, q22, q42) and image phashes
  * (`Multimodal.imageNearDups`, q31) pair through it.
  *
  * Bucket caps are NOT silent: every bucket loop caps through `capLen`,
  * which reports dropped docs through a named LongAccumulator (visible
  * in the Spark UI / status API) and an executor log line — on a real
  * corpus hot buckets are boilerplate near-dup classes, and silently
  * under-deleting there is a dedup pipeline lying about its recall.
  */
object Dedup {

  /** Named truncation accumulator: counts docs DROPPED from over-cap
    * buckets (pairs involving them are not generated this bucket). */
  def truncationAccumulator(df: DataFrame, name: String)
      : org.apache.spark.util.LongAccumulator =
    df.sparkSession.sparkContext.longAccumulator(name)

  /** Cap bookkeeping of every bucket loop (minhash, Hamming,
    * embedding): counts the overflow in `acc`, logs it, and returns the
    * kept length. */
  private def capLen(n: Int, cap: Int, what: String,
                     acc: org.apache.spark.util.LongAccumulator): Int = {
    if (n <= cap) n
    else {
      val dropped = n - cap
      acc.add(dropped.toLong)
      System.err.println(
        s"[dedup] $what bucket over cap: $n docs, cap $cap — " +
          s"$dropped docs dropped from pair generation (accumulator '${acc.name.getOrElse("")}')")
      cap
    }
  }

  // ---------------------------------------------------------------
  // Exact dedup: hash-groupBy, map-side partial agg, one shuffle.
  // ---------------------------------------------------------------

  /** Keep the first (min id) row per exact-content group. */
  def exact(df: DataFrame, idCol: String, contentCol: String): DataFrame = {
    df.groupBy(sha2(col(contentCol).cast("binary"), 256).as("content_hash"))
      .agg(min(col(idCol)).as("keep_id"), count(lit(1)).as("dup_count"))
  }

  // ---------------------------------------------------------------
  // MinHash + LSH
  // ---------------------------------------------------------------

  private val MERSENNE = (1L << 61) - 1

  /** k-permutation MinHash over word shingles, one pass per document. */
  def minhashSignature(text: String, shingleSize: Int, k: Int): Array[Long] = {
    if (text == null) return Array.fill(k)(Long.MaxValue)
    val words = text.split("\\s+").filter(_.nonEmpty)
    val sig = Array.fill(k)(Long.MaxValue)
    if (words.length < shingleSize) return sig
    var i = 0
    while (i + shingleSize <= words.length) {
      // polynomial rolling hash of the shingle
      var h = 1125899906842597L
      var j = i
      while (j < i + shingleSize) {
        val w = words(j)
        var c = 0
        while (c < w.length) { h = 31 * h + w.charAt(c); c += 1 }
        h = 31 * h + ' '
        j += 1
      }
      var p = 0
      while (p < k) {
        // universal hashing: (a*h + b) mod mersenne61
        val a = 0x9e3779b97f4a7c15L + p * 0xbf58476d1ce4e5b9L
        val b = 0x94d049bb133111ebL * (p + 1)
        val v = java.lang.Math.floorMod(a * h + b, MERSENNE)
        if (v < sig(p)) sig(p) = v
        p += 1
      }
      i += 1
    }
    sig
  }

  /** Per-document MinHash signatures plus per-band bucket keys:
    * `(id, sig: array<long>[numHashes], bh: array<int>[bands])` where
    * `bh(b)` hashes the band's signature slice (the LSH bucket key).
    * Exposed separately from pair generation so the band-bucket join
    * can be oracle-checked over a staged copy of this exact table. */
  def minhashSignatures(
      df: DataFrame, idCol: String, textCol: String,
      shingleSize: Int = 3, numHashes: Int = 128, bands: Int = 32
  ): DataFrame = {
    require(numHashes % bands == 0, "bands must divide numHashes")
    val rowsPerBand = numHashes / bands
    val sigUdf = udf((t: String) => minhashSignature(t, shingleSize, numHashes))
    val bhCols = (0 until bands).map { b =>
      hash((0 until rowsPerBand).map(r => col("sig")(b * rowsPerBand + r)): _*)
    }
    df.select(col(idCol).cast("long").as("id"), col(textCol).as("t"))
      .withColumn("sig", sigUdf(col("t"))).drop("t")
      .withColumn("bh", array(bhCols: _*))
  }

  /** MinHash-LSH near-duplicate candidate pairs with exact-Jaccard
    * verification. Returns (id_a, id_b, est_jaccard) with id_a < id_b.
    *
    * Pipeline: signature UDF → explode into `bands` (band_id,
    * band_hash) keys → groupBy band key (the ONLY shuffle) → in-bucket
    * pairs → dedup pairs → verify estimated jaccard from full
    * signatures. Bucket sizes are capped to keep worst-case quadratic
    * work bounded (hot buckets = near-identical boilerplate); overflow
    * is counted in `truncAcc` and logged, never silent. */
  def minhashPairs(
      df: DataFrame, idCol: String, textCol: String,
      shingleSize: Int = 3, numHashes: Int = 128, bands: Int = 32,
      threshold: Double = 0.7, maxBucket: Int = 1000,
      truncAcc: Option[org.apache.spark.util.LongAccumulator] = None
  ): DataFrame = {
    // persist the signature table: the band explode sits directly above
    // the (expensive) signature UDF, and Catalyst's projection collapse
    // would otherwise substitute the UDF into every per-band column —
    // re-hashing each document once PER BAND. Caching signatures is
    // standard LSH practice (they are ~KB/doc, documents are not).
    val sigs = minhashSignatures(df, idCol, textCol, shingleSize, numHashes, bands)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    minhashPairsFromSignatures(sigs, threshold, maxBucket, truncAcc)
  }

  /** Pair generation over a precomputed `(id, sig, bh)` signature table
    * (see minhashSignatures) — the bucket join + verify.
    *
    * Shape (guide §2.3/§8 — decide with small rows, attach payloads
    * once): the band explode shuffles IDS only (12 B/row), not the
    * ~1 KB signature vector — the old plan moved every signature once
    * PER BAND (32× the signature table) through the bucket exchange
    * just so the verify could run inside the bucket. Candidate (id_a,
    * id_b) pairs are deduped map-side (distinct) and the signatures
    * re-attach via two id-keyed joins, so each signature crosses the
    * network O(1) times instead of O(bands), and the verify runs once
    * per DISTINCT pair instead of once per shared band. Same output:
    * est depends only on the two full signatures, so the old
    * max-over-duplicates equals the single computation. */
  def minhashPairsFromSignatures(
      sigDf: DataFrame, threshold: Double = 0.7, maxBucket: Int = 1000,
      truncAcc: Option[org.apache.spark.util.LongAccumulator] = None
  ): DataFrame = {
    val acc = truncAcc.getOrElse(truncationAccumulator(sigDf, "graft.dedup.minhash.truncated_docs"))
    val exploded = sigDf
      .select(col("id"), posexplode(col("bh")).as(Seq("band", "bh")))

    // one shuffle of (band, bh, id) keys: group ids sharing a band hash
    val buckets = exploded.groupBy(col("band"), col("bh"))
      .agg(collect_list(col("id")).as("ids"))
      .filter(size(col("ids")) > 1)

    val pairUdf = udf((ids: Seq[Long]) => {
      val sorted = ids.toArray
      java.util.Arrays.sort(sorted)
      val n = capLen(sorted.length, maxBucket, "minhash", acc)
      val out = new Array[(Long, Long)](n * (n - 1) / 2)
      var k = 0
      var i = 0
      while (i < n) {
        var j = i + 1
        while (j < n) { out(k) = (sorted(i), sorted(j)); k += 1; j += 1 }
        i += 1
      }
      out.toSeq
    })

    val cands = buckets.select(explode(pairUdf(col("ids"))).as("p"))
      .select(col("p._1").as("id_a"), col("p._2").as("id_b"))
      .distinct()
    val estUdf = udf((sa: Seq[Long], sb: Seq[Long]) => {
      var eq = 0
      var p = 0
      while (p < sa.length) { if (sa(p) == sb(p)) eq += 1; p += 1 }
      eq.toDouble / sa.length
    })
    val sigs = sigDf.select(col("id"), col("sig"))
    cands
      .join(sigs.select(col("id").as("id_a"), col("sig").as("__sa")), Seq("id_a"))
      .join(sigs.select(col("id").as("id_b"), col("sig").as("__sb")), Seq("id_b"))
      .select(col("id_a"), col("id_b"), estUdf(col("__sa"), col("__sb")).as("est_jaccard"))
      .filter(col("est_jaccard") >= threshold)
  }

  // ---------------------------------------------------------------
  // Near-dup CLUSTERS: pairs → connected components → keeper choice
  // ---------------------------------------------------------------

  /** Connected components over an undirected pair list (id_a, id_b),
    * component = min id reachable — near-dup PAIRS become dedup
    * CLUSTERS. Computed by ALTERNATING LARGE-STAR/SMALL-STAR
    * (Kiveris et al., "Connected Components in MapReduce and Beyond",
    * SOCC 2014 — public algorithm): each round rewires edges toward
    * per-neighborhood minima, halving effective component diameter, so
    * a path of 10^4 nodes converges in ~log rounds where min-label
    * propagation needs 10^4. Per round: two shuffles on node ids (one
    * per star phase), edge set size never exceeds the input's — the
    * 100 TB path for arbitrary graph shapes.
    *
    *  - large-star: for each node u, connect every STRICTLY LARGER
    *    neighbor v > u to m = min(Γ(u) ∪ u)
    *  - small-star: orient edges (big ← small); for each node b,
    *    connect its smaller neighbors (and b) to their minimum
    *
    * Fixed point: every edge (v, m) points at its component's minimum
    * (a star). Convergence detected by an order-independent edge-set
    * fingerprint (count + decimal hash sum) — one cheap aggregate per
    * round instead of an O(E) anti-join. Returns (id, component). */
  def connectedComponentsStar(pairs: DataFrame, maxIter: Int = 64): DataFrame = {
    val spark = pairs.sparkSession
    val nodes = pairs.select(col("id_a").cast("long").as("id"))
      .unionByName(pairs.select(col("id_b").cast("long").as("id")))
      .distinct()
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // canonical small-first orientation, self-loops dropped. EAGER
    // checkpoint (see note above): the fingerprint then runs over a
    // materialized leaf with real stats.
    var edges = pairs.select(
        least(col("id_a").cast("long"), col("id_b").cast("long")).as("a"),
        greatest(col("id_a").cast("long"), col("id_b").cast("long")).as("b"))
      .filter(col("a") =!= col("b"))
      .distinct()
      .localCheckpoint()

    // Order-independent fingerprint over THREE independent aggregates
    // (count, hash SUM, differently-salted hash XOR): a convergence
    // false-positive now needs one edge-set pair to collide the sum and
    // the xor of two unrelated hash functions simultaneously — the
    // failure mode of a single hash-sum collision (silent early exit
    // with split components) is gone without paying an O(E) anti-join
    // per round.
    def fingerprint(e: DataFrame): (Long, java.math.BigDecimal, Long) = {
      val r = e.select(count(lit(1)),
        sum(xxhash64(col("a"), col("b"))
          .cast(org.apache.spark.sql.types.DecimalType(38, 0))),
        bit_xor(xxhash64(lit(0x9e3779b9L), col("b"), col("a")))).head()
      (r.getLong(0),
        if (r.isNullAt(1)) java.math.BigDecimal.ZERO else r.getDecimal(1),
        if (r.isNullAt(2)) 0L else r.getLong(2))
    }

    var fp = fingerprint(edges)
    var iter = 0
    var converged = false
    while (iter < maxIter && !converged) {
      // ---- large-star: u's larger neighbors attach to u's min -------
      val both = edges.select(col("a").as("u"), col("b").as("v"))
        .unionByName(edges.select(col("b").as("u"), col("a").as("v")))
      val mins = both.groupBy("u").agg(least(min(col("v")), first(col("u"))).as("m"))
      // eager per-phase checkpoints ON PURPOSE (round-6 measurement):
      // fusing a round into one lazy persist/checkpoint chain halved
      // the job count but ran ~2x SLOWER — the phase leaf's real
      // materialized size is what lets the small-star joins stay
      // broadcast; a stats-less fused round degrades them.
      val afterLarge = both.filter(col("v") > col("u"))
        .join(mins, "u")
        .select(col("m").as("a"), col("v").as("b"))
        .filter(col("a") =!= col("b"))
        .distinct()
        .localCheckpoint()
      // ---- small-star: b's smaller neighbors (and b) attach to min --
      val minsB = afterLarge.groupBy("b").agg(min(col("a")).as("m"))
      val rewired = afterLarge.join(minsB, "b")
        .select(least(col("a"), col("m")).as("a"), greatest(col("a"), col("m")).as("b"))
        .unionByName(afterLarge.join(minsB, "b").select(col("m").as("a"), col("b")))
        .filter(col("a") =!= col("b"))
        .distinct()
        .localCheckpoint()
      val fpNext = fingerprint(rewired)
      converged = fpNext == fp
      fp = fpNext
      edges = rewired
      iter += 1
    }
    lastStarRounds = iter
    if (!converged)
      throw new IllegalStateException(
        s"connectedComponentsStar did not reach a fixed point in $maxIter rounds " +
          "(expected ~log2(n)); refusing to return possibly-split labels")
    // stars: every non-root b has exactly one edge (root a, b)
    val out = nodes.join(edges.select(col("b").as("id"), col("a").as("root")), Seq("id"), "left")
      .select(col("id"), coalesce(col("root"), col("id")).as("component"))
    nodes.unpersist(blocking = false)
    out
  }

  /** Rounds the last `connectedComponentsStar` call took — test
    * instrumentation for the O(log n) round-count contract. */
  @volatile private[operators] var lastStarRounds: Int = -1

  /** Dedup decision per clustered doc: keep the min id per component. */
  def keepPerComponent(components: DataFrame): DataFrame =
    components.select(col("id"), col("component"),
      (col("id") === col("component")).as("keep"))

  // ---------------------------------------------------------------
  // SimHash
  // ---------------------------------------------------------------

  def simhash64(text: String): Long = {
    if (text == null) return 0L
    val counts = new Array[Int](64)
    for (w <- text.split("\\s+") if w.nonEmpty) {
      var h = 1125899906842597L
      var c = 0
      while (c < w.length) { h = 31 * h + w.charAt(c); c += 1 }
      // finalize (splitmix64-style avalanche)
      h = (h ^ (h >>> 30)) * 0xbf58476d1ce4e5b9L
      h = (h ^ (h >>> 27)) * 0x94d049bb133111ebL
      h = h ^ (h >>> 31)
      var bit = 0
      while (bit < 64) {
        if (((h >>> bit) & 1L) == 1L) counts(bit) += 1 else counts(bit) -= 1
        bit += 1
      }
    }
    var out = 0L
    var bit = 0
    while (bit < 64) { if (counts(bit) > 0) out |= (1L << bit); bit += 1 }
    out
  }

  /** Per-document 64-bit SimHash values `(id, sh)` — exposed so the
    * pigeonhole pair generation can be oracle-checked over a staged
    * copy of this exact table. */
  def simhashes(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val shUdf = udf((t: String) => simhash64(t))
    df.select(col(idCol).cast("long").as("id"), shUdf(col(textCol)).as("sh"))
  }

  /** SimHash near-dup pairs within Hamming distance `maxDist`: the
    * pigeonhole join `hammingPairs` over `simhashes`. Returns
    * (id_a, id_b, hamming) with id_a < id_b. */
  def simhashPairs(df: DataFrame, idCol: String, textCol: String, maxDist: Int = 3,
                   maxBucket: Int = 1000,
                   truncAcc: Option[org.apache.spark.util.LongAccumulator] = None): DataFrame =
    hammingPairs(simhashes(df, idCol, textCol), "id", "sh", maxDist, maxBucket, truncAcc)

  // ---------------------------------------------------------------
  // Hamming pigeonhole join (SimHash docs, image phashes)
  // ---------------------------------------------------------------

  /** Pairs of rows whose 64-bit `hashCol` values lie within Hamming
    * distance `maxDist` — the one pigeonhole join (q22/q42 over SimHash,
    * q31 over image phash). Split 64 bits into maxDist+1 chunks: ≤
    * maxDist differing bits cannot touch all of them, so any pair within
    * distance agrees exactly on ≥1 chunk, and candidates are chunk-
    * equality groups (shuffle on small chunk keys only). Recall is
    * EXACTLY 1 at any maxDist, so the output equals the all-pairs
    * hamming join — DuckDB-oracle-able. (With 64/chunks rounded down
    * some top bits go uncovered; harmless — differences there only
    * reduce the number of disagreeing chunks, and the full 64-bit
    * distance is verified per candidate pair.)
    *
    * `idCol` is bigint or string. Its natural order sorts each bucket,
    * so id_a < id_b in that order, and an over-cap bucket keeps its
    * first `maxBucket` ids. Returns (id_a, id_b, hamming), the min
    * distance per pair. */
  def hammingPairs(df: DataFrame, idCol: String, hashCol: String, maxDist: Int,
                   maxBucket: Int = 1000,
                   truncAcc: Option[org.apache.spark.util.LongAccumulator] = None): DataFrame =
    df.schema(idCol).dataType match {
      case LongType   => hammingJoin[Long](df, idCol, hashCol, maxDist, maxBucket, truncAcc)
      case StringType => hammingJoin[String](df, idCol, hashCol, maxDist, maxBucket, truncAcc)
      case t => throw new IllegalArgumentException(
        s"hammingPairs: id column '$idCol' is ${t.simpleString}, expected bigint or string")
    }

  private def hammingJoin[T: TypeTag: Ordering](
      df: DataFrame, idCol: String, hashCol: String, maxDist: Int, maxBucket: Int,
      truncAcc: Option[org.apache.spark.util.LongAccumulator]): DataFrame = {
    require(maxDist >= 0 && maxDist < 32, s"maxDist=$maxDist out of range [0,31]")
    val acc = truncAcc.getOrElse(truncationAccumulator(df, "graft.dedup.hamming.truncated_docs"))
    val chunks = maxDist + 1
    val bits = 64 / chunks
    // JVM shifts are mod 64: 1L<<64 == 1, so the maxDist=0 single-chunk
    // mask must be spelled out as all-ones
    val mask = if (bits >= 64) -1L else (1L << bits) - 1
    val chunkCols = (0 until chunks).map { c =>
      struct(lit(c).as("chunk"), col("h").bitwiseAND(lit(mask << (c * bits))).as("ck"))
    }
    val buckets = df.select(col(idCol).as("id"), col(hashCol).as("h"))
      .withColumn("k", explode(array(chunkCols: _*)))
      .groupBy(col("k.chunk"), col("k.ck"))
      .agg(collect_list(struct(col("id"), col("h"))).as("docs"))
      .filter(size(col("docs")) > 1)
    val pairUdf = udf((docs: Seq[Row]) => {
      // sort once per bucket, then a primitive hash array: the O(n²)
      // loop must not pay per-access Row boxing (capped buckets run
      // ~500k iterations)
      val arr = docs.iterator.map(r => (r.getAs[T](0), r.getLong(1))).toArray
      scala.util.Sorting.quickSort(arr)(Ordering.by((t: (T, Long)) => t._1))
      val n = capLen(arr.length, maxBucket, "hamming", acc)
      val hs = Array.tabulate(n)(arr(_)._2)
      val out = scala.collection.mutable.ArrayBuffer.empty[(T, T, Int)]
      var i = 0
      while (i < n) {
        val hi = hs(i)
        var j = i + 1
        while (j < n) {
          val d = java.lang.Long.bitCount(hi ^ hs(j))
          if (d <= maxDist) out += ((arr(i)._1, arr(j)._1, d))
          j += 1
        }
        i += 1
      }
      out.toSeq
    })
    buckets.select(explode(pairUdf(col("docs"))).as("p"))
      .select(col("p._1").as("id_a"), col("p._2").as("id_b"), col("p._3").as("hamming"))
      .groupBy(col("id_a"), col("id_b")).agg(min(col("hamming")).as("hamming"))
  }

  // ---------------------------------------------------------------
  // N-gram Jaccard (exact, LSH-bounded candidates)
  // ---------------------------------------------------------------

  def ngramSet(text: String, n: Int): Set[Long] = {
    if (text == null) return Set.empty
    val words = text.split("\\s+").filter(_.nonEmpty)
    val out = scala.collection.mutable.Set.empty[Long]
    var i = 0
    while (i + n <= words.length) {
      var h = 1125899906842597L
      var j = i
      while (j < i + n) {
        val w = words(j)
        var c = 0
        while (c < w.length) { h = 31 * h + w.charAt(c); c += 1 }
        h = 31 * h + ' '
        j += 1
      }
      out += h
      i += 1
    }
    out.toSet
  }

  /** Exact n-gram Jaccard over MinHash-LSH candidates: candidates from
    * minhashPairs (recall-bound), similarity recomputed exactly. */
  def ngramJaccardPairs(
      df: DataFrame, idCol: String, textCol: String,
      n: Int = 3, threshold: Double = 0.5
  ): DataFrame = {
    val spark = df.sparkSession
    val cands = minhashPairs(df, idCol, textCol, shingleSize = n,
      threshold = math.max(0.0, threshold - 0.2))
    val docs = df.select(col(idCol).cast("long").as("id"), col(textCol).as("text"))
    val jacUdf = udf((a: String, b: String) => {
      val sa = ngramSet(a, n)
      val sb = ngramSet(b, n)
      if (sa.isEmpty && sb.isEmpty) 0.0
      else sa.intersect(sb).size.toDouble / sa.union(sb).size
    })
    cands
      .join(docs.withColumnRenamed("id", "id_a").withColumnRenamed("text", "ta"), "id_a")
      .join(docs.withColumnRenamed("id", "id_b").withColumnRenamed("text", "tb"), "id_b")
      .withColumn("jaccard", jacUdf(col("ta"), col("tb")))
      .filter(col("jaccard") >= threshold)
      .select("id_a", "id_b", "jaccard")
  }

  // ---------------------------------------------------------------
  // Embedding cosine near-dup (LSH bucketed, see Similarity for ANN)
  // ---------------------------------------------------------------

  /** Near-duplicate embedding pairs above `cosThreshold` via BANDED
    * random-hyperplane LSH: `bands` independent tables of `planesPerBand`
    * hyperplanes each; a pair is a candidate if ALL bits of ANY band
    * agree, then exact cosine verifies (so false candidates cost work,
    * never wrong output).
    *
    * Recall math (why banding): P(one bit agrees) = 1 − θ/π. A single
    * 16-plane table at cos 0.95 (θ≈0.318 rad) has recall (1−θ/π)^16 ≈
    * 0.19 — four of five true pairs missed. With r=8, b=6 (defaults):
    * band match p^8 ≈ 0.43, recall 1−(1−p^8)^6 ≈ 0.96. Shuffle cost is
    * `bands` small (band, sig) keys per row — signatures, not vectors,
    * drive the fan-out. */
  def embeddingPairs(
      df: DataFrame, idCol: String, vecCol: String,
      bands: Int = 6, planesPerBand: Int = 8,
      cosThreshold: Double = 0.95, seed: Long = 42L, maxBucket: Int = 2000,
      truncAcc: Option[org.apache.spark.util.LongAccumulator] = None
  ): DataFrame = {
    require(bands * planesPerBand <= 64, "bands*planesPerBand must fit 64 bits")
    val spark = df.sparkSession
    import spark.implicits._
    val acc = truncAcc.getOrElse(truncationAccumulator(df, "graft.dedup.embedding.truncated_docs"))
    val dim = df.select(size(col(vecCol))).first().getInt(0)
    val rnd = new scala.util.Random(seed)
    val hyper = Array.fill(bands * planesPerBand, dim)(rnd.nextGaussian().toFloat)
    val bHyper = spark.sparkContext.broadcast(hyper)
    // one pass per row: per-band signatures (planesPerBand bits each)
    val sigUdf = udf((v: Seq[Float]) => {
      val h = bHyper.value
      val arr = v.toArray
      val sigs = new Array[Long](bands)
      var p = 0
      while (p < h.length) {
        var dot = 0.0
        var i = 0
        while (i < arr.length) { dot += arr(i) * h(p)(i); i += 1 }
        if (dot >= 0) sigs(p / planesPerBand) |= (1L << (p % planesPerBand))
        p += 1
      }
      sigs
    })
    // persisted for the same projection-collapse reason as minhashPairs:
    // the band explode must not re-run the hyperplane UDF per band
    val withSig = df.select(col(idCol).cast("long").as("id"), col(vecCol).as("v"))
      .withColumn("sigs", sigUdf(col("v")))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // Exchange layout (measured round 6): vectors ride the band-bucket
    // exchange once per band. The id-only variant (candidates deduped,
    // vectors re-attached via two id-keyed joins — the q21 minhash
    // shape) was tried and ran ~2x SLOWER here: at bands=6 and
    // ~256 B/vector the duplicated payload is small, while the extra
    // distinct + two join exchanges are pure fixed cost. The id-join
    // shape wins when vectors are large (high dim) or bands many —
    // minhash (32 bands × 1 KB signatures) uses it; this operator keeps
    // the single exchange. In-bucket verify converts each bucket ONCE
    // to primitive arrays (no per-access Row/Seq boxing in the O(n²)
    // cosine loop; identical FP order → bit-identical cosines).
    val bandCols = (0 until bands).map(b =>
      struct(lit(b).as("band"), col("sigs")(b).as("sig")))
    val exploded = withSig
      .withColumn("bk", explode(array(bandCols: _*)))
      .select(col("bk.band"), col("bk.sig"), col("id"), col("v"))
    val buckets = exploded.groupBy(col("band"), col("sig"))
      .agg(collect_list(struct(col("id"), col("v"))).as("docs"))
      .filter(size(col("docs")) > 1)
    val pairUdf = udf((docs: Seq[org.apache.spark.sql.Row]) => {
      val arr = docs.iterator
        .map(r => (r.getLong(0), r.getSeq[Float](1).toArray)).toArray
      scala.util.Sorting.quickSort(arr)(Ordering.by((t: (Long, Array[Float])) => t._1))
      val n = capLen(arr.length, maxBucket, "embedding", acc)
      def cos(a: Array[Float], b: Array[Float]): Double = {
        var dot = 0.0; var na = 0.0; var nb = 0.0; var i = 0
        while (i < a.length) { dot += a(i) * b(i); na += a(i) * a(i); nb += b(i) * b(i); i += 1 }
        if (na == 0 || nb == 0) 0.0 else dot / math.sqrt(na * nb)
      }
      val out = scala.collection.mutable.ArrayBuffer.empty[(Long, Long, Double)]
      var i = 0
      while (i < n) {
        var j = i + 1
        while (j < n) {
          out += ((arr(i)._1, arr(j)._1, cos(arr(i)._2, arr(j)._2)))
          j += 1
        }
        i += 1
      }
      out.toSeq
    })
    buckets.select(explode(pairUdf(col("docs"))).as("p"))
      .select(col("p._1").as("id_a"), col("p._2").as("id_b"), col("p._3").as("cosine"))
      .filter(col("cosine") >= cosThreshold)
      .groupBy(col("id_a"), col("id_b")).agg(max(col("cosine")).as("cosine"))
  }
}
