package graft.frontier

/** Compact approximate-membership filters for the URL-seen set.
  *
  * Primary: a cuckoo filter (2-choice, 4-slot buckets, 16-bit
  * fingerprints → ~0.01% FP at 95% load, supports deletion). Fallback: a
  * blocked Bloom filter. Both serialize to byte arrays so the seen-set
  * lives as PARTITIONED SHARDS of level files: candidates shuffle to
  * their shard's group, and each task loads its shard's levels from
  * storage and probes them in-task (`Frontier.subtractSeen`) — the
  * driver never holds any filter state (north rule: "partitioned
  * cuckoo-filter URL-seen set, bloom fallback per executor").
  *
  * Filters are a PREFILTER only: a filter hit is confirmed by binary
  * search of the level's sorted run of exact 64-bit key hashes, so
  * membership is 64-bit hash equality and a filter false positive never
  * drops a URL. */
object SeenFilter {

  private def mix64(z0: Long): Long = {
    var z = z0 + 0x9e3779b97f4a7c15L
    z = (z ^ (z >>> 30)) * 0xbf58476d1ce4e5b9L
    z = (z ^ (z >>> 27)) * 0x94d049bb133111ebL
    z ^ (z >>> 31)
  }

  def hashKey(key: String): Long = {
    var h = 1469598103934665603L
    var i = 0
    while (i < key.length) { h = (h ^ key.charAt(i)) * 1099511628211L; i += 1 }
    mix64(h)
  }

  // =================================================================
  // Cuckoo filter
  // =================================================================

  /** buckets = power of two; 4 x 16-bit slots per bucket (0 = empty). */
  final class Cuckoo(val numBuckets: Int, val table: Array[Short]) {
    require(Integer.bitCount(numBuckets) == 1, "numBuckets must be a power of 2")
    private val mask = numBuckets - 1

    private def fingerprint(h: Long): Short = {
      val f = ((h >>> 48) & 0xffff).toInt
      (if (f == 0) 1 else f).toShort
    }
    private def bucket1(h: Long): Int = (h & mask).toInt
    private def altBucket(b: Int, f: Short): Int =
      (b ^ (mix64(f & 0xffffL) & mask)).toInt & mask

    def insert(key: String): Boolean = insertHash(hashKey(key))

    def insertHash(h: Long): Boolean = {
      val f = fingerprint(h)
      val b1 = bucket1(h)
      val b2 = altBucket(b1, f)
      if (tryPut(b1, f) || tryPut(b2, f)) return true
      // cuckoo eviction — the displacement chain is recorded so a FAILED
      // insert can be rolled back exactly. Without rollback the final
      // homeless fingerprint (a PREVIOUSLY INSERTED key's) would be
      // silently dropped → a false negative → a seen URL re-scheduled.
      var b = if ((mix64(h) & 1) == 0) b1 else b2
      var cur = f
      var kicks = 0
      val rnd = new java.util.Random(h)
      val pathSlots = new Array[Int](500)
      val pathVals = new Array[Short](500)
      while (kicks < 500) {
        val slot = b * 4 + rnd.nextInt(4)
        pathSlots(kicks) = slot
        pathVals(kicks) = table(slot)
        val evicted = table(slot)
        table(slot) = cur
        cur = evicted
        b = altBucket(b, cur)
        kicks += 1
        if (tryPut(b, cur)) return true
      }
      var i = kicks - 1
      while (i >= 0) { table(pathSlots(i)) = pathVals(i); i -= 1 }
      false // full — caller should grow or fall back to bloom
    }

    private def tryPut(b: Int, f: Short): Boolean = {
      var s = b * 4
      val end = s + 4
      while (s < end) {
        if (table(s) == 0) { table(s) = f; return true }
        s += 1
      }
      false
    }

    def mightContain(key: String): Boolean = mightContainHash(hashKey(key))

    def mightContainHash(h: Long): Boolean = {
      val f = fingerprint(h)
      val b1 = bucket1(h)
      val b2 = altBucket(b1, f)
      contains(b1, f) || contains(b2, f)
    }

    private def contains(b: Int, f: Short): Boolean = {
      var s = b * 4
      val end = s + 4
      while (s < end) {
        if (table(s) == f) return true
        s += 1
      }
      false
    }

    def serialize(): Array[Byte] = {
      val bb = java.nio.ByteBuffer.allocate(8 + table.length * 2)
      bb.putInt(0x43554b31) // "CUK1"
      bb.putInt(numBuckets)
      table.foreach(bb.putShort)
      bb.array()
    }
  }

  object Cuckoo {
    def create(expectedItems: Long): Cuckoo = {
      // 4 slots/bucket at ≤95% load
      var buckets = 1
      while (buckets.toLong * 4 * 95 / 100 < expectedItems) buckets <<= 1
      new Cuckoo(math.max(buckets, 16), new Array[Short](math.max(buckets, 16) * 4))
    }
    def deserialize(bytes: Array[Byte]): Cuckoo = {
      val bb = java.nio.ByteBuffer.wrap(bytes)
      require(bb.getInt() == 0x43554b31, "bad cuckoo magic")
      val buckets = bb.getInt()
      val table = new Array[Short](buckets * 4)
      var i = 0
      while (i < table.length) { table(i) = bb.getShort(); i += 1 }
      new Cuckoo(buckets, table)
    }
  }

  // =================================================================
  // Blocked bloom fallback
  // =================================================================

  final class Bloom(val bits: Array[Long]) {
    private val nBits = bits.length * 64L
    def insertHash(h: Long): Unit = {
      var i = 0
      var hh = h
      while (i < 3) {
        val bit = java.lang.Math.floorMod(hh, nBits)
        bits((bit >>> 6).toInt) |= (1L << (bit & 63))
        hh = mix64(hh)
        i += 1
      }
    }
    def mightContainHash(h: Long): Boolean = {
      var i = 0
      var hh = h
      while (i < 3) {
        val bit = java.lang.Math.floorMod(hh, nBits)
        if ((bits((bit >>> 6).toInt) & (1L << (bit & 63))) == 0) return false
        hh = mix64(hh)
        i += 1
      }
      true
    }
    def serialize(): Array[Byte] = {
      val bb = java.nio.ByteBuffer.allocate(8 + bits.length * 8)
      bb.putInt(0x424c4d31) // "BLM1"
      bb.putInt(bits.length)
      bits.foreach(bb.putLong)
      bb.array()
    }
  }

  object Bloom {
    def create(expectedItems: Long, bitsPerItem: Int = 12): Bloom =
      new Bloom(new Array[Long](math.max(16, ((expectedItems * bitsPerItem + 63) / 64).toInt)))
    def deserialize(bytes: Array[Byte]): Bloom = {
      val bb = java.nio.ByteBuffer.wrap(bytes)
      require(bb.getInt() == 0x424c4d31, "bad bloom magic")
      val n = bb.getInt()
      val bits = new Array[Long](n)
      var i = 0
      while (i < n) { bits(i) = bb.getLong(); i += 1 }
      new Bloom(bits)
    }
  }

  /** Common probe interface over parsed filters. */
  sealed trait Probe extends Serializable { def mightContainHash(h: Long): Boolean }

  /** Parse a blob once; probe many times (deserializing per probe would
    * copy the whole table per row — the cardinal sin of the hot path). */
  def parse(blob: Array[Byte]): Probe =
    if (java.nio.ByteBuffer.wrap(blob).getInt() == 0x43554b31) {
      val c = Cuckoo.deserialize(blob)
      new Probe { def mightContainHash(h: Long): Boolean = c.mightContainHash(h) }
    } else {
      val b = Bloom.deserialize(blob)
      new Probe { def mightContainHash(h: Long): Boolean = b.mightContainHash(h) }
    }

  // =================================================================
  // LSM LEVELS — the storage unit of seen-set shard state
  // =================================================================
  // A level is ONE immutable blob holding a cuckoo/bloom filter AND the
  // sorted 64-bit hash run it was built from — created together, merged
  // together (logarithmic policy: fold the newest levels whose counts
  // the incoming batch reaches), retired together. Per-wave shard
  // maintenance therefore writes ONE new level of O(batch) bytes
  // (amortized O(log) with merges) and READS only the levels being
  // merged — write amplification and update reads are O(fresh), never
  // O(seen), at any seen-set size. Probes check each level: O(1)
  // filter first, binary-searched exact run on filter hits.
  //
  // Exactness: membership is hash64 equality. A false drop needs a
  // 64-bit collision between a candidate and a DIFFERENT seen key:
  // P ≈ n_seen/2^64 ≈ 5e-10 per candidate at 10^10 seen keys — a
  // handful of falsely-skipped URLs over an entire crawl, each merely
  // not fetched (state is never corrupted).

  private val RunMagic = 0x58435431 // "XCT1"

  def encodeRun(sorted: Array[Long]): Array[Byte] = {
    val bb = java.nio.ByteBuffer.allocate(8 + sorted.length * 8)
    bb.putInt(RunMagic)
    bb.putInt(sorted.length)
    var i = 0
    while (i < sorted.length) { bb.putLong(sorted(i)); i += 1 }
    bb.array()
  }

  def decodeRun(blob: Array[Byte]): Array[Long] = {
    val bb = java.nio.ByteBuffer.wrap(blob)
    require(bb.getInt() == RunMagic, "bad exact-run magic")
    val n = bb.getInt()
    val out = new Array[Long](n)
    var i = 0
    while (i < n) { out(i) = bb.getLong(); i += 1 }
    out
  }

  private def dedupSortedInPlace(a: Array[Long]): Array[Long] = {
    if (a.length < 2) return a
    var w = 1
    var i = 1
    while (i < a.length) {
      if (a(i) != a(w - 1)) { a(w) = a(i); w += 1 }
      i += 1
    }
    if (w == a.length) a else java.util.Arrays.copyOf(a, w)
  }

  private def mergeSorted(a: Array[Long], b: Array[Long]): Array[Long] = {
    val out = new Array[Long](a.length + b.length)
    var i = 0; var j = 0; var w = 0
    while (i < a.length && j < b.length) {
      val v = if (a(i) <= b(j)) { val t = a(i); i += 1; t } else { val t = b(j); j += 1; t }
      if (w == 0 || out(w - 1) != v) { out(w) = v; w += 1 }
    }
    while (i < a.length) { if (w == 0 || out(w - 1) != a(i)) { out(w) = a(i); w += 1 }; i += 1 }
    while (j < b.length) { if (w == 0 || out(w - 1) != b(j)) { out(w) = b(j); w += 1 }; j += 1 }
    if (w == out.length) out else java.util.Arrays.copyOf(out, w)
  }

  // ---- levels ----------------------------------------------------

  private val LevelMagic = 0x4c564c31 // "LVL1"

  /** Build one level from a SORTED, DEDUPED hash array: cuckoo filter
    * (bloom fallback on overflow — the north-rule contract) + the
    * exact run, serialized together. */
  def buildLevel(sortedDeduped: Array[Long]): Array[Byte] = {
    val cuckoo = Cuckoo.create(math.max(sortedDeduped.length, 16))
    var ok = true
    var i = 0
    while (ok && i < sortedDeduped.length) {
      ok = cuckoo.insertHash(sortedDeduped(i)); i += 1
    }
    val filter =
      if (ok) cuckoo.serialize()
      else {
        val bloom = Bloom.create(math.max(sortedDeduped.length, 16))
        sortedDeduped.foreach(bloom.insertHash)
        bloom.serialize()
      }
    val run = encodeRun(sortedDeduped)
    val bb = java.nio.ByteBuffer.allocate(16 + filter.length + run.length)
    bb.putInt(LevelMagic)
    bb.putInt(sortedDeduped.length)
    bb.putInt(filter.length)
    bb.put(filter)
    bb.put(run)
    bb.array()
  }

  /** Parsed level: O(1) filter prefilter, exact binary search on hit. */
  final class LevelProbe(filter: Probe, run: Array[Long]) extends Serializable {
    def contains(h: Long): Boolean =
      filter.mightContainHash(h) && java.util.Arrays.binarySearch(run, h) >= 0
    def count: Int = run.length
    def hashes: Array[Long] = run
  }

  def parseLevel(bytes: Array[Byte]): LevelProbe = {
    val bb = java.nio.ByteBuffer.wrap(bytes)
    require(bb.getInt() == LevelMagic, "bad level magic")
    bb.getInt() // count (redundant with run header)
    val flen = bb.getInt()
    val filter = new Array[Byte](flen)
    bb.get(filter)
    val run = new Array[Byte](bb.remaining())
    bb.get(run)
    new LevelProbe(parse(filter), decodeRun(run))
  }

  def levelCount(bytes: Array[Byte]): Int = {
    val bb = java.nio.ByteBuffer.wrap(bytes)
    require(bb.getInt() == LevelMagic, "bad level magic")
    bb.getInt()
  }

  /** Logarithmic-merge decision from level counts (oldest→newest):
    * how many NEWEST levels fold into a batch of `batchSize`. A level
    * merges when its count is ≤ the accumulated (batch + newer
    * levels) size — identical to the classic logarithmic method, so
    * level count stays O(log n) and merge work amortizes to O(1) per
    * key per level. */
  def levelsToMerge(counts: Seq[Int], batchSize: Int): Int = {
    var k = 0
    var acc = batchSize.toLong
    while (k < counts.length && counts(counts.length - 1 - k) <= acc) {
      acc += counts(counts.length - 1 - k)
      k += 1
    }
    k
  }

  /** Sort+dedup a batch in place, then fold it with the runs of the
    * merged levels (oldest-first merge keeps the arrays sorted). */
  def mergeIntoRun(batch: Array[Long], mergedLevelRuns: Seq[Array[Long]]): Array[Long] = {
    java.util.Arrays.sort(batch)
    var acc = dedupSortedInPlace(batch)
    mergedLevelRuns.foreach(r => acc = mergeSorted(r, acc))
    acc
  }
}
