package graft.operators

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.SparkTestBase

class DedupSpec extends AnyFunSuite with SparkTestBase {
  import spark.implicits._

  test("embeddingPairs: banded LSH recovers >=90% of true cosine-0.95 pairs") {
    val dim = 16
    val n = 60
    val c = 0.95
    val rnd = new scala.util.Random(7)
    def unit(): Array[Double] = {
      val v = Array.fill(dim)(rnd.nextGaussian())
      val norm = math.sqrt(v.map(x => x * x).sum)
      v.map(_ / norm)
    }
    // pairs at EXACT cosine 0.95: v2 = c*u + sqrt(1-c^2)*w with w ⊥ u
    val rows = (0 until n).flatMap { i =>
      val u = unit()
      val r2 = unit()
      val dot = u.zip(r2).map { case (a, b) => a * b }.sum
      val w0 = r2.zip(u).map { case (b, a) => b - dot * a }
      val wn = math.sqrt(w0.map(x => x * x).sum)
      val w = w0.map(_ / wn)
      val v2 = u.zip(w).map { case (a, b) => c * a + math.sqrt(1 - c * c) * b }
      Seq((i.toLong, u.map(_.toFloat).toSeq), ((i + 100000).toLong, v2.map(_.toFloat).toSeq))
    }
    val df = rows.toDF("vec_id", "embedding")
    val pairs = Dedup.embeddingPairs(df, "vec_id", "embedding", cosThreshold = 0.94)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val recovered = (0 until n).count(i => pairs.contains((i.toLong, (i + 100000).toLong)))
    assert(recovered >= (n * 0.9).toInt,
      s"banded LSH recall too low: $recovered/$n at cosine 0.95")
    // single-table sanity: the old one-16-plane-table design would sit
    // near (1-acos(.95)/pi)^16 ~= 0.19 recall; banding is the fix
  }

  test("minhashPairs: over-cap bucket reports dropped docs via accumulator, not silently") {
    val docs = (0 until 30).map(i => (i.toLong, "the same boilerplate text repeated " * 10))
      .toDF("doc_id", "text")
    val acc = Dedup.truncationAccumulator(docs, "test.minhash.trunc")
    val pairs = Dedup.minhashPairs(docs, "doc_id", "text", threshold = 0.9,
      maxBucket = 10, truncAcc = Some(acc)).collect()
    // kept docs (ids 0..9 after the sorted cap) still pair up
    assert(pairs.length == 45, s"expected C(10,2)=45 pairs, got ${pairs.length}")
    // 30 identical docs -> every band bucket holds 30, drops 20
    assert(acc.value >= 20, s"truncation accumulator not reporting (=${acc.value})")
  }

  test("embeddingPairs: over-cap bucket reports via accumulator") {
    val v = Seq.fill(8)(1.0f)
    val docs = (0 until 25).map(i => (i.toLong, v)).toDF("vec_id", "embedding")
    val acc = Dedup.truncationAccumulator(docs, "test.embed.trunc")
    val pairs = Dedup.embeddingPairs(docs, "vec_id", "embedding",
      cosThreshold = 0.9, maxBucket = 5, truncAcc = Some(acc)).collect()
    assert(pairs.length == 10, s"expected C(5,2)=10 pairs, got ${pairs.length}")
    assert(acc.value >= 20, s"truncation accumulator not reporting (=${acc.value})")
  }

  /** Driver-side union-find: id → min id of its component. */
  private def unionFind(pairs: Seq[(Long, Long)]): Map[Long, Long] = {
    val parent = scala.collection.mutable.Map[Long, Long]()
    def find(x: Long): Long = {
      val p = parent.getOrElseUpdate(x, x)
      if (p == x) x else { val r = find(p); parent(x) = r; r }
    }
    pairs.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    parent.keys.toSeq.map(x => x -> find(x)).toMap
  }

  test("connectedComponents: chain, clique, and singletons-in-pairs resolve to min id") {
    import spark.implicits._
    // chain 1-2-3-4 (diameter 3), clique {10,11,12}, isolated pair {20,21}
    val edges = Seq((1L, 2L), (2L, 3L), (3L, 4L), (10L, 11L), (10L, 12L), (11L, 12L), (20L, 21L))
    val pairs = edges.toDF("id_a", "id_b")
    val cc = Dedup.connectedComponentsStar(pairs).as[(Long, Long)].collect().toMap
    assert(cc == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L,
      10L -> 10L, 11L -> 10L, 12L -> 10L, 20L -> 20L, 21L -> 20L))
    assert(cc == unionFind(edges))
    val keep = Dedup.keepPerComponent(Dedup.connectedComponentsStar(pairs))
      .filter(org.apache.spark.sql.functions.col("keep")).select("id")
      .as[Long].collect().toSet
    assert(keep == Set(1L, 10L, 20L))
  }

  test("connectedComponentsStar: 10^4-node path converges in O(log n) rounds, exact labels") {
    import spark.implicits._
    val n = 10000
    // two parallel paths with distinct minima + a handful of singleton
    // pairs: worst-case diameter AND multiple components at once
    val path1 = (0L until (n - 1).toLong).map(i => (i * 2, i * 2 + 2))
    val path2 = (0L until (n - 1).toLong).map(i => (i * 2 + 1, i * 2 + 3))
    val pairs = (path1 ++ path2 ++ Seq((30000L, 30001L))).toDF("id_a", "id_b")
    val cc = Dedup.connectedComponentsStar(pairs).as[(Long, Long)].collect().toMap
    assert(cc.size == 2 * n + 2)
    assert((0L until n.toLong).forall(i => cc(i * 2) == 0L), "even path mislabeled")
    assert((0L until n.toLong).forall(i => cc(i * 2 + 1) == 1L), "odd path mislabeled")
    assert(cc(30000L) == 30000L && cc(30001L) == 30000L)
    // min-label propagation would need ~10^4 rounds here
    assert(Dedup.lastStarRounds <= 35,
      s"star scheme took ${Dedup.lastStarRounds} rounds — not O(log n)")
  }

  test("connectedComponentsStar keeps self-loop-only nodes") {
    import spark.implicits._
    // a 20-node path + an isolated node whose only edge is the
    // self-loop (99,99): it still gets its own component row
    val edges = (0L until 19L).map(i => (i, i + 1)) :+ ((99L, 99L))
    val cc = Dedup.connectedComponentsStar(edges.toDF("id_a", "id_b"))
      .as[(Long, Long)].collect().toMap
    assert(cc == unionFind(edges), s"diverged: ${cc.toSet.diff(unionFind(edges).toSet)}")
    assert(cc(99L) == 99L && cc.size == 21)
  }

  test("connectedComponentsStar == union-find oracle on random graphs") {
    import spark.implicits._
    val rnd = new scala.util.Random(7)
    val edges = (0 until 400).map(_ => (rnd.nextInt(300).toLong, rnd.nextInt(300).toLong))
      .filter { case (a, b) => a != b }
    val viaStar = Dedup.connectedComponentsStar(edges.toDF("id_a", "id_b"))
      .as[(Long, Long)].collect().toMap
    val oracle = unionFind(edges)
    assert(viaStar == oracle, s"star vs union-find disagree on ${viaStar.toSet.diff(oracle.toSet)}")
  }

  test("simhashPairs: mutated near-copies found") {
    // simhash is a weighted bit-majority: one extra word flips only bits
    // whose vote margin is ≤1, so near-copy detection needs docs long
    // enough that a single-word edit stays within maxDist (300 words ⇒
    // ~1-2 expected flips)
    val rnd = new scala.util.Random(11)
    val base = (0 until 20).map { i =>
      val words = (0 until 300).map(_ => s"w${rnd.nextInt(5000)}")
      (i.toLong, (s"doc$i" +: words).mkString(" "))
    }
    val mutated = base.map { case (i, t) => (i + 1000, t + " zzmutation") }
    val docs = (base ++ mutated).toDF("doc_id", "text")
    val pairs = Dedup.simhashPairs(docs, "doc_id", "text", maxDist = 6)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val found = base.count { case (i, _) => pairs.contains((i, i + 1000)) }
    assert(found >= 18, s"simhash missed near-copies: $found/20")
  }
}
