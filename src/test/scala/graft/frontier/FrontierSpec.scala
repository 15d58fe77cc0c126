package graft.frontier

import org.scalatest.funsuite.AnyFunSuite
import graft.SparkTestBase
import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator
import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._

class SeenFilterSpec extends AnyFunSuite {
  test("cuckoo filter: no false negatives, low false positives, serialization") {
    val keys = (0 until 5000).map(i => s"com,example)/page/$i")
    val c = SeenFilter.Cuckoo.create(5000)
    keys.foreach(k => assert(c.insert(k)))
    keys.foreach(k => assert(c.mightContain(k), s"false negative for $k"))
    val fp = (5000 until 15000).count(i => c.mightContain(s"com,example)/page/$i"))
    assert(fp < 50, s"cuckoo FP rate too high: $fp/10000")
    val round = SeenFilter.Cuckoo.deserialize(c.serialize())
    keys.foreach(k => assert(round.mightContain(k)))
  }

  test("bloom fallback: no false negatives") {
    val b = SeenFilter.Bloom.create(1000)
    val keys = (0 until 1000).map(i => SeenFilter.hashKey(s"k$i"))
    keys.foreach(b.insertHash)
    keys.foreach(k => assert(b.mightContainHash(k)))
    val fp = (1000 until 11000).count(i => b.mightContainHash(SeenFilter.hashKey(s"k$i")))
    assert(fp < 200, s"bloom FP rate too high: $fp/10000")
  }

  test("cuckoo insert failure rolls back: no previously-inserted key lost") {
    val c = SeenFilter.Cuckoo.create(16) // tiny, forced to overflow
    val inserted = scala.collection.mutable.ArrayBuffer.empty[Long]
    var i = 0
    var sawFailure = false
    while (i < 100000 && !sawFailure) {
      val h = SeenFilter.hashKey(s"rollback$i")
      if (c.insertHash(h)) inserted += h else sawFailure = true
      i += 1
    }
    assert(sawFailure, "tiny cuckoo should eventually reject an insert")
    // a failed insert must leave the table untouched — a dropped victim
    // fingerprint would be a false negative (seen URL re-scheduled)
    inserted.foreach(h => assert(c.mightContainHash(h), "rollback lost a key"))
    (0 until 1000).foreach(j => c.insertHash(SeenFilter.hashKey(s"extra$j")))
    inserted.foreach(h => assert(c.mightContainHash(h), "later failure lost a key"))
  }

  test("LSM levels: exact membership across merges, logarithmic level count") {
    // simulate 40 waves of uneven batches through the level lifecycle:
    // merge decision from counts, load-only-merged, rebuild one level
    var paths: Seq[(Int, Array[Byte])] = Nil // (count, encoded level)
    val rnd = new scala.util.Random(11)
    val inserted = scala.collection.mutable.Set.empty[Long]
    for (w <- 0 until 40) {
      val batch = Array.fill(1 + rnd.nextInt(500))(rnd.nextLong())
      inserted ++= batch
      val k = SeenFilter.levelsToMerge(paths.map(_._1), batch.length)
      val (retained, merged) = paths.splitAt(paths.length - k)
      val mergedRuns = merged.map(m => SeenFilter.parseLevel(m._2).hashes)
      val run = SeenFilter.mergeIntoRun(batch, mergedRuns.reverse)
      paths = retained :+ ((run.length, SeenFilter.buildLevel(run)))
    }
    val probes = paths.map(pp => SeenFilter.parseLevel(pp._2))
    inserted.foreach(h => assert(probes.exists(_.contains(h)), s"levels lost $h"))
    val absent = (0 until 10000).map(i => SeenFilter.hashKey(s"absent$i")).filterNot(inserted)
    absent.foreach(h => assert(!probes.exists(_.contains(h)),
      "level FALSE POSITIVE - membership must be exact"))
    assert(paths.length <= 16, s"level chain too long: ${paths.length} (log merge broken?)")
    assert(probes.map(_.count.toLong).sum == inserted.size.toLong)
    // counts encoded in the blob match the runs
    paths.foreach { case (n, bytes) => assert(SeenFilter.levelCount(bytes) == n) }
  }

  test("codePointLess matches UTF-8 binary order (supplementary vs U+E000+)") {
    val bmp = "x"          // U+E000 (private use, BMP)
    val supp = "x😀"   // U+1F600 (supplementary)
    assert(bmp.compareTo(supp) > 0, "UTF-16 order inverts this pair")
    assert(Frontier.codePointLess(bmp, supp), "UTF-8 order: U+E000 < U+1F600")
    assert(!Frontier.codePointLess(supp, bmp))
    assert(Frontier.codePointLess("a", "ab") && !Frontier.codePointLess("ab", "a"))
    assert(!Frontier.codePointLess("a", "a"))
    assert(Frontier.codePointLess("abc", "abd"))
  }

  test("buildLevel: cuckoo filter prefilters, bloom fallback path works") {
    val hashes = (0 until 5000).map(i => SeenFilter.hashKey(s"k$i")).toArray
    java.util.Arrays.sort(hashes)
    val lvl = SeenFilter.parseLevel(SeenFilter.buildLevel(hashes))
    hashes.foreach(h => assert(lvl.contains(h)))
    assert(!(5000 until 15000).exists(i => lvl.contains(SeenFilter.hashKey(s"k$i"))))
    // bloom fallback engages when a cuckoo cannot hold the set: force
    // it by observing a tiny cuckoo overflow, then bloom exactness is
    // still guaranteed by the run binary search
    val tiny = SeenFilter.Cuckoo.create(16)
    var ok = true
    var i = 0
    while (ok && i < 100000) { ok = tiny.insertHash(SeenFilter.hashKey(s"key$i")); i += 1 }
    assert(!ok, "tiny cuckoo should overflow (bloom fallback trigger)")
  }
}

class FrontierSpec extends AnyFunSuite with SparkTestBase {

  private def tmpDir(name: String): String = {
    val p = graft.Scratch.dir(s"frontier-$name")
    p.toString
  }

  private def runWaves(dirName: String, waves: Int, partitions: Int): (Frontier, Vector[WaveResult]) = {
    val cfg = FrontierConfig(checkpointDir = tmpDir(dirName), hostBudget = 5, seenShards = 16)
    val f = new Frontier(spark, cfg)
    val seeds = Frontier.syntheticSeeds(spark, 2000).repartition(partitions)
    val r0 = f.initialize(seeds)
    val rs = (1 to waves).map(_ => f.runWave()).toVector
    (f, r0 +: rs)
  }

  test("waves run, schedule under budget, seen set grows monotonically") {
    val (f, rs) = runWaves("basic", 3, 8)
    assert(rs.last.wave == 3)
    // budget respected
    for (w <- 1 to 3) {
      val sched = f.scheduledDf(w)
      val perHost = sched.groupBy("host").count().collect()
      assert(perHost.forall(_.getLong(1) <= 5), "host budget violated")
      assert(sched.count() > 0)
    }
    // seen grows, includes all scheduled
    assert(rs(2).seenTotal >= rs(1).seenTotal)
    val seen3 = f.seenDf(3).collect().map(_.getString(0)).toSet
    val sched2 = f.scheduledDf(2).select("surt_key").collect().map(_.getString(0)).toSet
    assert(sched2.subsetOf(seen3))
  }

  test("determinism: same seed + budget → identical schedule at different parallelism") {
    val (f1, _) = runWaves("det1", 2, 2)
    val (f2, _) = runWaves("det2", 2, 16)
    for (w <- 1 to 2) {
      val a = f1.scheduledDf(w).select("surt_key", "priority", "rank_in_host")
        .collect().map(r => (r.getString(0), r.getInt(1), r.getInt(2))).sortBy(_._1).toVector
      val b = f2.scheduledDf(w).select("surt_key", "priority", "rank_in_host")
        .collect().map(r => (r.getString(0), r.getInt(1), r.getInt(2))).sortBy(_._1).toVector
      assert(a == b, s"wave $w schedule differs across parallelism")
    }
    val s1 = f1.seenDf(2).collect().map(_.getString(0)).toSet
    val s2 = f2.seenDf(2).collect().map(_.getString(0)).toSet
    assert(s1 == s2, "seen membership differs across parallelism")
  }

  test("no URL is ever scheduled twice (seen-set correctness)") {
    val (f, _) = runWaves("noredo", 4, 8)
    val all = (1 to 4).flatMap(w => f.scheduledDf(w).select("surt_key").collect().map(_.getString(0)))
    assert(all.size == all.toSet.size, "a surt_key was scheduled in two waves")
  }

  test("robots: /private paths on blocked hosts never scheduled") {
    val (f, _) = runWaves("robots", 3, 8)
    for (w <- 1 to 3) {
      val bad = f.scheduledDf(w)
        .collect()
        .filter { r =>
          val host = r.getAs[String]("host")
          val url = r.getAs[String]("canonical_url")
          url.contains("/private") &&
            java.lang.Math.floorMod(SeenFilter.hashKey(host), 5L) == 0L
        }
      assert(bad.isEmpty, s"robots-disallowed URL scheduled in wave $w")
    }
  }

  test("exactly-once resume: delete later state, resume reproduces identical wave") {
    val cfg = FrontierConfig(checkpointDir = tmpDir("resume"), hostBudget = 5, seenShards = 16)
    val f = new Frontier(spark, cfg)
    f.initialize(Frontier.syntheticSeeds(spark, 2000))
    f.runWave(); f.runWave()
    val wave2 = f.scheduledDf(2).select("surt_key", "rank_in_host")
      .collect().map(r => (r.getString(0), r.getInt(1))).sortBy(_._1).toVector

    // simulate crash mid-wave-2: remove the manifest (uncommitted) and
    // corrupt its outputs; the engine must redo wave 2 identically
    Files.delete(Paths.get(cfg.checkpointDir, "MANIFEST-2.json"))
    def rmRec(p: Path): Unit = if (Files.exists(p)) {
      Files.walk(p).iterator().asScala.toSeq.reverse.foreach(Files.delete)
    }
    rmRec(Paths.get(cfg.checkpointDir, "scheduled", "wave=2"))
    rmRec(Paths.get(cfg.checkpointDir, "seen", "wave=2"))
    rmRec(Paths.get(cfg.checkpointDir, "maint", "wave=2"))
    rmRec(Paths.get(cfg.checkpointDir, "fence_delta", "wave=2"))

    assert(f.latestCommittedWave() == 1)
    val redo = f.runWave()
    assert(redo.wave == 2)
    val wave2redo = f.scheduledDf(2).select("surt_key", "rank_in_host")
      .collect().map(r => (r.getString(0), r.getInt(1))).sortBy(_._1).toVector
    assert(wave2 == wave2redo, "resumed wave 2 differs from original")
  }

  test("real robots table: RFC-9309 gate + crawl-delay budget cap inside the wave") {
    import spark.implicits._
    val cfg = FrontierConfig(checkpointDir = tmpDir("realrobots"), hostBudget = 5,
      seenShards = 8, waveWindowSec = 6)
    // every synthetic host gets the same robots: /seed paths with an odd
    // doc index disallowed; crawl-delay 3 caps the budget at 6/3 = 2
    val seeds = Frontier.syntheticSeeds(spark, 400)
    val hosts = {
      val f0 = new Frontier(spark, FrontierConfig(checkpointDir = tmpDir("realrobots-probe")))
      f0.initialize(seeds)
      f0.pendingDf(0).select("host").distinct().as[String].collect().toSeq
    }
    val robots = hosts.map(h =>
      (h, "User-agent: *\nDisallow: /seed/1\nCrawl-delay: 3\n")).toDF("host", "robots_txt")
    val f = new Frontier(spark, cfg, robots = Some(robots))
    f.initialize(seeds)
    f.runWave()
    val sched = f.scheduledDf(1)
    // robots: no scheduled path starts with /seed/1
    val bad = sched.filter(
      org.apache.spark.sql.functions.col("canonical_url").rlike("://[^/]+/seed/1")).count()
    assert(bad == 0, "robots-disallowed path scheduled")
    // crawl-delay: per-host budget capped at waveWindowSec/delay = 2 (< hostBudget 5)
    val maxPerHost = sched.groupBy("host").count()
      .agg(org.apache.spark.sql.functions.max("count")).head().getLong(0)
    assert(maxPerHost <= 2, s"crawl-delay cap violated: $maxPerHost")
    assert(sched.count() > 0)
  }

  test("robots parsed ONCE per robots version: waves and resumed instances reuse the checkpointed parse") {
    import spark.implicits._
    val ckDir = tmpDir("robotsonce")
    val cfg = FrontierConfig(checkpointDir = ckDir, hostBudget = 5, seenShards = 8)
    val seeds = Frontier.syntheticSeeds(spark, 400)
    val hosts = {
      val f0 = new Frontier(spark, FrontierConfig(checkpointDir = tmpDir("robotsonce-probe")))
      f0.initialize(seeds)
      f0.pendingDf(0).select("host").distinct().as[String].collect().toSeq
    }
    val robots = hosts.map(h =>
      (h, "User-agent: *\nDisallow: /seed/1\nCrawl-delay: 3\n")).toDF("host", "robots_txt")
    val before = Robots.parsedHostCount.get()
    val f = new Frontier(spark, cfg, robots = Some(robots))
    f.initialize(seeds)
    f.runWave(); f.runWave()
    val afterTwoWaves = Robots.parsedHostCount.get()
    // hostRules + crawlDelays each parse every host exactly once at
    // materialization; two waves must not add a single re-parse
    assert(afterTwoWaves - before == 2L * hosts.size,
      s"robots re-parsed inside the wave loop: ${afterTwoWaves - before} parses " +
        s"for ${hosts.size} hosts over 2 waves")
    // a RESUMED instance on the same checkpoint + same robots version
    // reuses the published parse (zero parses)
    val f2 = new Frontier(spark, cfg, robots = Some(robots))
    f2.runWave()
    assert(Robots.parsedHostCount.get() == afterTwoWaves,
      "resumed instance re-parsed an unchanged robots snapshot")
    // a CHANGED robots snapshot re-parses and re-publishes
    val robots2 = robots.withColumn("robots_txt",
      org.apache.spark.sql.functions.concat($"robots_txt",
        org.apache.spark.sql.functions.lit("Disallow: /seed/2\n")))
    val f3 = new Frontier(spark, cfg, robots = Some(robots2))
    f3.runWave()
    assert(Robots.parsedHostCount.get() > afterTwoWaves,
      "changed robots snapshot did not re-parse")
  }

  test("hot-host skew: zipf head host bounded by budget, salting active") {
    val (f, _) = runWaves("skew", 2, 8)
    val sched = f.scheduledDf(2)
    val byHost = sched.groupBy("host").count().orderBy(org.apache.spark.sql.functions.desc("count"))
      .collect()
    assert(byHost.head.getLong(1) <= 5)
    // frontier itself accumulates the skew (host0 gets the zipf mass)
    val pending = f.pendingDf(2)
    val pendingByHost = pending.groupBy("host").count()
      .orderBy(org.apache.spark.sql.functions.desc("count")).collect()
    assert(pendingByHost.head.getLong(1) > pendingByHost.last.getLong(1))
  }

  private def cfg2Path(f: Frontier): String = {
    val field = classOf[Frontier].getDeclaredField("cfg")
    field.setAccessible(true)
    field.get(f).asInstanceOf[FrontierConfig].checkpointDir
  }

  test("shard-count config mismatch on an existing checkpoint fails loudly") {
    val ckDir = tmpDir("shardmismatch")
    val f = new Frontier(spark, FrontierConfig(checkpointDir = ckDir, seenShards = 16))
    f.initialize(Frontier.syntheticSeeds(spark, 500))
    val f2 = new Frontier(spark, FrontierConfig(checkpointDir = ckDir, seenShards = 32))
    val e = intercept[Exception] { f2.runWave() }
    assert(e.getMessage.contains("shards"), s"wrong error: ${e.getMessage}")
  }

  test("seen-delta compaction: identical membership, pruned dirs, resume-safe") {
    val ckDir = tmpDir("compact")
    val cfg = FrontierConfig(checkpointDir = ckDir, hostBudget = 5, seenShards = 16)
    val f = new Frontier(spark, cfg)
    f.initialize(Frontier.syntheticSeeds(spark, 1500))
    (1 to 6).foreach(_ => f.runWave())
    val before = f.seenDf(6).collect().map(_.getString(0)).sorted.toVector
    val wave6 = f.scheduledDf(6).select("surt_key", "rank_in_host")
      .collect().map(r => (r.getString(0), r.getInt(1))).sortBy(_._1).toVector

    f.compactSeen(5)
    // membership identical; only ONE delta dir (wave 6) remains
    val after = f.seenDf(6).collect().map(_.getString(0)).sorted.toVector
    assert(after == before, "compaction changed seen membership")
    val deltaDirs = Files.list(Paths.get(ckDir, "seen")).iterator().asScala
      .count(_.getFileName.toString.startsWith("wave="))
    assert(deltaDirs == 1, s"$deltaDirs delta dirs left after compacting ≤5")

    // compaction is idempotent + monotone
    f.compactSeen(5)
    assert(f.seenDf(6).count() == before.size.toLong)

    // kill wave 6 (uncommitted crash) AFTER compaction: resume must
    // reproduce the identical wave from base + rewritten delta
    Files.delete(Paths.get(ckDir, "MANIFEST-6.json"))
    def rmRec(p: Path): Unit = if (Files.exists(p)) {
      Files.walk(p).iterator().asScala.toSeq.reverse.foreach(Files.delete)
    }
    rmRec(Paths.get(ckDir, "scheduled", "wave=6"))
    rmRec(Paths.get(ckDir, "seen", "wave=6"))
    rmRec(Paths.get(ckDir, "maint", "wave=6"))
    rmRec(Paths.get(ckDir, "fence_delta", "wave=6"))
    assert(f.latestCommittedWave() == 5)
    val redo = f.runWave()
    assert(redo.wave == 6)
    val wave6redo = f.scheduledDf(6).select("surt_key", "rank_in_host")
      .collect().map(r => (r.getString(0), r.getInt(1))).sortBy(_._1).toVector
    assert(wave6redo == wave6, "post-compaction resume diverged")
    assert(f.seenDf(6).collect().map(_.getString(0)).sorted.toVector == before)
  }

  test("auto-compaction inside the wave loop: long crawl keeps O(K) delta dirs, membership intact") {
    val ckDir = tmpDir("autocompact")
    val cfg = FrontierConfig(checkpointDir = ckDir, hostBudget = 4, seenShards = 16,
      compactEvery = 4)
    val f = new Frontier(spark, cfg)
    f.initialize(Frontier.syntheticSeeds(spark, 800))
    (1 to 12).foreach(_ => f.runWave())
    // waves 4, 8, 12 auto-compacted to 3, 7, 11: deltas on disk are
    // wave 11's survivors + newer = at most compactEvery + 1 dirs
    val deltaDirs = Files.list(Paths.get(ckDir, "seen")).iterator().asScala
      .count(_.getFileName.toString.startsWith("wave="))
    assert(deltaDirs <= cfg.compactEvery + 1,
      s"$deltaDirs delta dirs after 12 waves with compactEvery=${cfg.compactEvery}")
    assert(Files.list(Paths.get(ckDir)).iterator().asScala
      .exists(_.getFileName.toString.startsWith("SEEN_BASE-")),
      "no compaction base published by the wave loop")
    // membership stays exact through auto-compaction: nothing is ever
    // scheduled twice, and seeds remain members
    val all = (1 to 12).flatMap(w =>
      f.scheduledDf(w).select("surt_key").collect().map(_.getString(0)))
    assert(all.size == all.toSet.size, "a surt was re-scheduled after auto-compaction")
    assert(f.seenDf(12).count() >= 800)
  }

  test("backlog compaction: delta dirs bounded, stale refill copies dropped, schedule unchanged") {
    val ckDir = tmpDir("backlogcompact")
    // headMult=1 maximizes refill traffic → maximum stale copies in the
    // backlog for compaction to reclaim
    val cfg = FrontierConfig(checkpointDir = ckDir, hostBudget = 4, headMult = 1,
      backlogBuckets = 8, seenShards = 16, compactEvery = 4)
    val f = new Frontier(spark, cfg)
    f.initialize(Frontier.syntheticSeeds(spark, 3000, hostPool = 40))
    (1 to 10).foreach(_ => f.runWave())
    val deltaDirs = Files.list(Paths.get(ckDir, "maint")).iterator().asScala
      .count(d => Files.exists(d.resolve("dest=spill")))
    assert(deltaDirs <= cfg.compactEvery + 1,
      s"$deltaDirs backlog delta dirs after 10 waves with compactEvery=${cfg.compactEvery}")
    assert(Files.list(Paths.get(ckDir)).iterator().asScala
      .exists(_.getFileName.toString.startsWith("BACKLOG_BASE-")),
      "no backlog base published by the wave loop")
    // compaction must not perturb scheduling: nothing double-scheduled,
    // waves keep producing, and pending stays consistent (head ∪ live
    // backlog has no duplicates — stale copies really dropped/ignored)
    val all = (1 to 10).flatMap(w =>
      f.scheduledDf(w).select("surt_key").collect().map(_.getString(0)))
    assert(all.size == all.toSet.size, "a surt was re-scheduled after backlog compaction")
    val pend = f.pendingDf(10).select("surt_key").collect().map(_.getString(0))
    assert(pend.length == pend.toSet.size,
      "duplicate surt in pending view — stale backlog copy leaked past the fence")
  }

  test("backlog merge is single-commit: crash between marker publish and folded GC duplicates nothing, heals") {
    val ckDir = tmpDir("backlogcrashgc")
    val cfg = FrontierConfig(checkpointDir = ckDir, hostBudget = 4, headMult = 1,
      backlogBuckets = 8, seenShards = 16, compactEvery = 1000)
    val f = new Frontier(spark, cfg)
    f.initialize(Frontier.syntheticSeeds(spark, 3000, hostPool = 40))
    (1 to 6).foreach(_ => f.runWave())
    f.compactBacklog(2) // first run: folds waves ≤2 deltas, nothing to merge
    assert(Files.exists(Paths.get(ckDir, "BACKLOG_BASE-2.json")))

    // snapshot the pre-merge run + deltas so the GC can be "un-done"
    def copyRec(src: Path, dst: Path): Unit =
      Files.walk(src).iterator().asScala.foreach { p =>
        val t = dst.resolve(src.relativize(p).toString)
        if (Files.isDirectory(p)) Files.createDirectories(t)
        else { Files.createDirectories(t.getParent); Files.copy(p, t) }
      }
    val snap = Paths.get(tmpDir("backlogcrashgc-snap"))
    copyRec(Paths.get(ckDir, "backlog_base", "upto=2"), snap.resolve("upto=2"))
    Files.copy(Paths.get(ckDir, "BACKLOG_BASE-2.json"), snap.resolve("BACKLOG_BASE-2.json"))
    val spills = Files.list(Paths.get(ckDir, "maint")).iterator().asScala
      .filter(d => Files.exists(d.resolve("dest=spill"))).map(_.getFileName.toString)
      .filter(_.stripPrefix("wave=").toInt <= 4) // only waves the merge will GC
      .toVector
    spills.foreach { w =>
      copyRec(Paths.get(ckDir, "maint", w, "dest=spill"), snap.resolve("spill").resolve(w))
    }

    f.compactBacklog(4) // tiers comparable in size → MERGE (folds run 2)
    val marker = new String(
      Files.readAllBytes(Paths.get(ckDir, "BACKLOG_BASE-4.json")), "UTF-8")
    assert(marker.contains("\"folded\":[2]"),
      s"expected a merge claiming run 2; marker was: $marker")
    val truth = f.pendingDf(6).select("surt_key").collect()
      .map(_.getString(0)).sorted.toVector
    assert(truth.nonEmpty && truth.size == truth.toSet.size)

    // simulate a crash IMMEDIATELY after the marker publish: folded
    // run 2 (dir + marker) and the folded spill deltas are back on
    // disk alongside the already-published merged run 4
    copyRec(snap.resolve("upto=2"), Paths.get(ckDir, "backlog_base", "upto=2"))
    Files.copy(snap.resolve("BACKLOG_BASE-2.json"), Paths.get(ckDir, "BACKLOG_BASE-2.json"))
    spills.foreach { w =>
      copyRec(snap.resolve("spill").resolve(w), Paths.get(ckDir, "maint", w, "dest=spill"))
    }

    // a fresh instance (cold caches, like a resume) must NOT read the
    // folded run: every merged row would otherwise appear twice
    val f2 = new Frontier(spark, cfg)
    val resumed = f2.pendingDf(6).select("surt_key").collect()
      .map(_.getString(0)).sorted.toVector
    assert(resumed == truth,
      s"pending diverged after simulated crash: ${resumed.size} rows vs ${truth.size}")

    // the next compaction (early-returning or not) finishes the GC
    f2.compactBacklog(4)
    assert(!Files.exists(Paths.get(ckDir, "BACKLOG_BASE-2.json")),
      "folded run's marker not healed")
    assert(!Files.exists(Paths.get(ckDir, "backlog_base", "upto=2")),
      "folded run's dir not healed")
    spills.foreach { w =>
      assert(!Files.exists(Paths.get(ckDir, "maint", w, "dest=spill")),
        s"folded spill delta $w not healed")
    }
    val healed = f2.pendingDf(6).select("surt_key").collect()
      .map(_.getString(0)).sorted.toVector
    assert(healed == truth, "healing changed the pending view")
  }

  test("legacy fence/wave=N checkpoint layout fails loudly on resume") {
    val ckDir = tmpDir("legacylayout")
    val cfg = FrontierConfig(checkpointDir = ckDir, hostBudget = 4, seenShards = 8)
    val f = new Frontier(spark, cfg)
    f.initialize(Frontier.syntheticSeeds(spark, 200))
    f.runWave()
    // a pre-round-5 checkpoint kept its fence here; the current reader
    // only consults fence_base/fence_delta — resume must refuse, not
    // silently run with an empty fence view
    Files.createDirectories(Paths.get(ckDir, "fence", "wave=1"))
    val f2 = new Frontier(spark, cfg)
    val e = intercept[IllegalArgumentException] { f2.runWave() }
    assert(e.getMessage.contains("legacy fence"), e.getMessage)
    // every fence-store read refuses too, not only the wave loop
    Seq[() => Any](() => f2.pendingDf(1), () => f2.fenceTableDf(1),
        () => f2.compactBacklog(1)).foreach { read =>
      val e2 = intercept[IllegalArgumentException] { read() }
      assert(e2.getMessage.contains("legacy fence"), e2.getMessage)
    }
  }

  test("legacy bkb=<v> backlog layout fails loudly on resume") {
    val ckDir = tmpDir("legacybkb")
    val cfg = FrontierConfig(checkpointDir = ckDir, hostBudget = 4, headMult = 1,
      seenShards = 8, backlogBuckets = 8)
    val f = new Frontier(spark, cfg)
    f.initialize(Frontier.syntheticSeeds(spark, 3000, hostPool = 40))
    f.runWave()
    val spill = Paths.get(ckDir, "maint", "wave=1", "dest=spill")
    assert(Files.exists(spill), "test premise broken: wave 1 spilled nothing")
    // a backlog written before the flat bkb-sorted files kept one
    // bkb=<v> dir per (bucket, band) — resume must refuse, not misread it
    Files.createDirectories(spill.resolve("bkb=0"))
    val f2 = new Frontier(spark, cfg)
    val e = intercept[IllegalArgumentException] { f2.runWave() }
    assert(e.getMessage.contains("legacy bkb="), e.getMessage)
    Seq[() => Any](() => f2.pendingDf(1), () => f2.fenceTableDf(1),
        () => f2.compactBacklog(1)).foreach { read =>
      val e2 = intercept[IllegalArgumentException] { read() }
      assert(e2.getMessage.contains("legacy bkb="), e2.getMessage)
    }
  }

  test("refill reads O(needy buckets): statistics prune the bkb-sorted backlog") {
    import org.apache.spark.sql.functions._
    val sp = spark
    import sp.implicits._
    val buckets = 64
    // 256 hosts × 3000 urls: wave 1's cut spills ~766k rows over every
    // bucket. Crawl-delay 60 caps every host but one at one fetch a
    // wave, so wave 2 refills that one host from its one bucket.
    val seeds = spark.range(0, 256L * 3000).select(
      concat(lit("https://s"), $"id" % 256, lit(".buckets.test/p/"), $"id").as("url"),
      ($"id" % 97).cast("int").as("priority"))
    val fast = "s7.buckets.test"
    val robots = (0 until 256).map { i =>
      val h = s"s$i.buckets.test"
      (h, if (h == fast) "User-agent: *\nAllow: /\n" else "User-agent: *\nCrawl-delay: 60\n")
    }.toDF("host", "robots_txt")
    val ckDir = tmpDir("refillprune")
    val cfg = FrontierConfig(checkpointDir = ckDir, hostBudget = 4, headMult = 2,
      seenShards = 16, backlogBuckets = buckets, compactEvery = 1000)
    val f = new Frontier(spark, cfg, robots = Some(robots))
    f.initialize(seeds)
    f.runWave()
    val backlogRows = f.fenceTableDf(1).agg(sum($"bn")).head().getLong(0)
    val backlogBytes = Files.walk(Paths.get(ckDir, "maint", "wave=1", "dest=spill")).iterator()
      .asScala.filter(Files.isRegularFile(_)).map(Files.size(_)).sum
    assert(backlogRows > 700000 && backlogBytes > 4L * 1024 * 1024,
      s"test premise broken: backlog only $backlogRows rows, $backlogBytes B")
    // input records of every refill job: the parquet rows it scanned,
    // plus one per cached block it re-reads. (Not bytesRead: parquet's
    // vectored page reads run outside the task thread, whose FS
    // statistics then count ~the footers alone, filtered or not.)
    val refillStages = java.util.concurrent.ConcurrentHashMap.newKeySet[Int]()
    val rowsRead = new java.util.concurrent.atomic.AtomicLong
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(e: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        if (e.properties.getProperty("spark.job.description") == "maint:refill")
          e.stageIds.foreach(refillStages.add)
      override def onTaskEnd(e: org.apache.spark.scheduler.SparkListenerTaskEnd): Unit =
        if (refillStages.contains(e.stageId) && e.taskMetrics != null)
          rowsRead.addAndGet(e.taskMetrics.inputMetrics.recordsRead)
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      f.runWave()
      org.apache.spark.SparkInternals.drainListenerBus(spark.sparkContext)
    } finally spark.sparkContext.removeSparkListener(listener)
    val refilled = f.headTableDf(2).filter($"host".endsWith(".buckets.test"))
      .groupBy("host").count().filter($"count" === cfg.headMult * cfg.hostBudget)
      .as[(String, Long)].collect().map(_._1).toSeq
    assert(refilled == Seq(fast), s"wave 2 refilled $refilled, expected only $fast")
    info(s"refill read ${rowsRead.get()} of $backlogRows backlog rows")
    // reading every bucket would scan the whole backlog; one bucket's
    // rows are 1/64 of it, plus up to a page (20k rows) per file
    assert(rowsRead.get() > 0 && rowsRead.get() * 8 < backlogRows,
      s"refill of 1/$buckets buckets read ${rowsRead.get()} of $backlogRows backlog rows")
  }

  test("shard maintenance writes O(fresh) per wave: level files reused across waves") {
    val ckDir = tmpDir("lsm")
    val cfg = FrontierConfig(checkpointDir = ckDir, hostBudget = 3, seenShards = 16)
    val f = new Frontier(spark, cfg)
    f.initialize(Frontier.syntheticSeeds(spark, 100000))
    f.runWave(); f.runWave()
    def lvlBytes(p: Path): Long =
      if (!Files.exists(p)) 0L
      else Files.walk(p).iterator().asScala
        .filter(q => q.toString.endsWith(".lvl")).map(Files.size(_)).sum
    val total = lvlBytes(Paths.get(ckDir, "shards"))
    val wave2 = lvlBytes(Paths.get(ckDir, "shards", "wave=2"))
    assert(wave2 > 0, "wave 2 must write its fresh keys")
    // wave 2's fresh batch is a small fraction of the 100k-key state;
    // a full-state rewrite per wave would put ~total here
    assert(wave2 < total / 3,
      s"wave-2 level writes $wave2 B of $total B total state — not O(fresh)")
    // and the index must still reference untouched init-time levels
    val idxLines = Files.readAllLines(
      Paths.get(ckDir, "shards", "wave=2", "INDEX.txt")).asScala
    assert(idxLines.exists(_.contains("wave=0/")),
      "no level reuse across waves — every shard was rewritten")
  }

  test("level I/O ships the SESSION Hadoop conf to executors (spark.hadoop.* visible in-task)") {
    // a setting supplied only through the session (not the executor
    // classpath) must be visible to the conf the level read/write path
    // uses in tasks — the broadcast is the same object loadLevel/
    // storeLevel receive, so asserting its task-side contents asserts
    // the I/O path's conf provenance
    spark.conf.set("spark.hadoop.graft.test.marker", "fence42")
    try {
      val f = new Frontier(spark, FrontierConfig(checkpointDir = tmpDir("confship"),
        seenShards = 8))
      f.initialize(Frontier.syntheticSeeds(spark, 300)) // exercises storeLevel under this conf
      val confB = f.taskHadoopConfBroadcast
      // runtime session confs land in newHadoopConf() under their FULL
      // key (SparkConf-supplied spark.hadoop.* are stripped at context
      // creation); either form proves session-conf provenance
      val seen = spark.sparkContext.parallelize(Seq(1), 1)
        .map { _ =>
          val c = confB.value.value
          String.valueOf(
            Option(c.get("graft.test.marker"))
              .getOrElse(c.get("spark.hadoop.graft.test.marker")))
        }
        .collect().head
      assert(seen == "fence42",
        s"session spark.hadoop.* setting not visible task-side (got $seen)")
    } finally spark.conf.unset("spark.hadoop.graft.test.marker")
  }

  test("shard prune is self-healing: orphan levels from a missed prune are reclaimed later") {
    val ckDir = tmpDir("selfheal")
    val cfg = FrontierConfig(checkpointDir = ckDir, hostBudget = 5, seenShards = 16)
    val f = new Frontier(spark, cfg)
    f.initialize(Frontier.syntheticSeeds(spark, 2000))
    f.runWave()
    // simulate a crash-between-commit-and-prune leak: an unreferenced
    // level file in an OLD wave dir (no index references it)
    val orphan = Paths.get(ckDir, "shards", "wave=0", "s99999-n0000000001.lvl")
    Files.write(orphan, Array[Byte](1, 2, 3))
    f.runWave() // wave 2's commit-time prune diffs DISK vs live set
    assert(!Files.exists(orphan),
      "orphan level not reclaimed — prune only diffs the last two indexes")
    // and everything referenced stays intact: another wave runs clean
    val r = f.runWave()
    assert(r.scheduled > 0)
  }

  test("queue-head scheduling: wave shuffle + state writes are O(heads+fresh), not O(pending)") {
    // 20 hosts × 50k urls = 1M pending rows, hostBudget 5 (M = 20):
    // a wave schedules 100 urls. The r3 design windowed + anti-joined +
    // REWROTE the full 1M-row pending state every wave; the queue-head
    // design must touch only the head (400 rows), the fresh set (~300),
    // the fence table (20 rows) and the spill delta — backlog bytes on
    // disk must dwarf everything the wave shuffles or writes.
    import org.apache.spark.sql.functions._
    val sp = spark
    import sp.implicits._
    val ckDir = tmpDir("queuehead-metrics")
    val cfg = FrontierConfig(checkpointDir = ckDir, hostBudget = 5, seenShards = 16)
    val f = new Frontier(spark, cfg)
    val seeds = spark.range(0, 1000000).select(
      concat(lit("https://www.h"), $"id" % 20, lit(".example.org/p/"), $"id").as("url"),
      ($"id" % 100).cast("int").as("priority"))
    f.initialize(seeds)
    // wave 1 performs the one-time lazy cut (the whole seed queue is
    // the wave-0 head); wave 2 is the STEADY STATE this test measures
    f.runWave()
    def dirBytes(p: Path): Long =
      if (!Files.exists(p)) 0L
      else Files.walk(p).iterator().asScala.filter(Files.isRegularFile(_))
        .map(Files.size(_)).sum
    val backlogBytes = dirBytes(Paths.get(ckDir, "maint", "wave=1", "dest=spill"))
    assert(backlogBytes > 4L * 1024 * 1024,
      s"test premise broken: backlog only $backlogBytes B")
    var shuffleWrite = 0L
    var outputWrite = 0L
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onStageCompleted(
          sc: org.apache.spark.scheduler.SparkListenerStageCompleted): Unit = {
        shuffleWrite += sc.stageInfo.taskMetrics.shuffleWriteMetrics.bytesWritten
        outputWrite += sc.stageInfo.taskMetrics.outputMetrics.bytesWritten
      }
    }
    spark.sparkContext.addSparkListener(listener)
    val r = try {
      val r = f.runWave()
      Thread.sleep(3000) // listener bus is async — let it drain
      r
    } finally spark.sparkContext.removeSparkListener(listener)
    // 20 seeded hosts × budget 5 + a handful of discovered outlink
    // hosts — in any case pending (1M) ≫ scheduled
    assert(r.scheduled >= 100 && r.scheduled < 2000,
      s"expected a scheduled set ≪ pending, got ${r.scheduled}")
    assert(shuffleWrite > 0)
    assert(shuffleWrite < backlogBytes / 8,
      s"wave shuffled $shuffleWrite B against a $backlogBytes-B backlog — O(pending) leak")
    assert(outputWrite < backlogBytes / 8,
      s"wave wrote $outputWrite B of state against a $backlogBytes-B backlog — " +
        "full-state rewrite is back")
  }

  test("seen-subtraction shuffle is O(candidates), not O(seen) — stage-metric assert") {
    // 150k seen keys (~8 MB of SURT strings), probed with 1000
    // candidates: the subtract step must shuffle only the candidates —
    // shard state is read in-task, never exchanged. (The r2 design
    // anti-joined candidates against the full seen store: an O(seen)
    // SortMergeJoin shuffle on every wave.)
    import org.apache.spark.sql.functions._
    val sp = spark
    import sp.implicits._
    val cfg = FrontierConfig(checkpointDir = tmpDir("shufflebytes"),
      seenShards = 16)
    val f = new Frontier(spark, cfg)
    def urlsFor(from: Long, until: Long) = spark.range(from, until).select(
      concat(lit("https://www.h"), $"id" % 150, lit(".example.org/p/"), $"id").as("url"),
      ($"id" % 100).cast("int").as("priority"))
    f.initialize(urlsFor(0, 150000))
    assert(f.seenDf(0).count() == 150000)
    // probe: 500 seen + 500 never-seen
    val probe = urlsFor(149500, 150500)
    var shuffleWrite = 0L
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onStageCompleted(
          sc: org.apache.spark.scheduler.SparkListenerStageCompleted): Unit =
        shuffleWrite += sc.stageInfo.taskMetrics.shuffleWriteMetrics.bytesWritten
    }
    spark.sparkContext.addSparkListener(listener)
    val nFresh = try {
      val n = f.freshOnly(probe).count()
      Thread.sleep(3000) // listener bus is async — let it drain
      n
    } finally spark.sparkContext.removeSparkListener(listener)
    assert(nFresh == 500, s"exact membership broken: $nFresh fresh of 1000 probed")
    // 1000 candidates ≈ ~100 KB of shuffle; the 8 MB seen store must
    // contribute NOTHING to it
    assert(shuffleWrite > 0, "probe must shuffle the candidates to their shards")
    assert(shuffleWrite < 1L * 1024 * 1024,
      s"probe shuffled $shuffleWrite bytes — O(seen) leak into the shuffle?")
  }

  test("fence DELTA write is O(hosts-touched): dormant fenced hosts write no row") {
    // r4 rewrote the FULL fence table every wave — O(hosts-ever-
    // spilled). The delta store must instead write one row per host
    // whose fence state changed THIS wave. Shape: a wide host universe
    // gets fenced at the wave-1 lazy cut, then zipf discovery touches
    // only the head-host subset — so some steady wave's delta must be
    // far smaller than the fenced-host universe.
    val cfg = FrontierConfig(checkpointDir = tmpDir("fencedelta"),
      hostBudget = 2, headMult = 4, seenShards = 8, backlogBuckets = 8,
      outlinksPerUrl = 2, hostPool = 400, compactEvery = 0)
    val f = new Frontier(spark, cfg)
    f.initialize(Frontier.syntheticSeeds(spark, 20000, hostPool = 400))
    val deltas = (1 to 6).map { w =>
      f.runWave()
      spark.read.parquet(cfg.checkpointDir + s"/fence_delta/wave=$w").count()
    }
    val fenced = f.fenceTableDf(6).count()
    assert(fenced > 200, s"universe never fenced ($fenced) — test shape broken")
    assert(deltas.forall(_ >= 0) && deltas.exists(_ > 0))
    val steady = deltas.drop(1).min
    assert(steady * 2 <= fenced,
      s"every wave's fence delta ($deltas) is O(fenced hosts = $fenced) — delta scheme not effective")
    // latest-per-host view reconstruction: fence rows are unique per host
    val v = f.fenceTableDf(6)
    assert(v.groupBy("host").count()
      .filter(org.apache.spark.sql.functions.col("count") > 1).isEmpty,
      "fence view has duplicate host rows")
  }

  test("adversarial discovery: every head stays ≤ 2×M across 20 waves (epoch'd per-host re-cut)") {
    val cfg = FrontierConfig(checkpointDir = tmpDir("recut"),
      hostBudget = 3, headMult = 2, seenShards = 8, backlogBuckets = 8,
      outlinksPerUrl = 4, hostPool = 50, outlinkMode = "adversarial",
      compactEvery = 6)
    val f = new Frontier(spark, cfg)
    f.initialize(Frontier.syntheticSeeds(spark, 1500, hostPool = 50))
    val M = math.max(cfg.hostBudget, cfg.headMult * cfg.hostBudget)
    for (w <- 1 to 20) {
      f.runWave()
      val mx = f.headTableDf(w).groupBy("host").count()
        .agg(org.apache.spark.sql.functions.max("count")).head().getLong(0)
      assert(mx <= 2L * M, s"wave $w: a host's head grew past 2M ($mx > ${2 * M})")
    }
    // non-vacuous: the adversary actually forced re-cuts. These hosts
    // flood without ever draining (no refill → no stale copies), so
    // the CHEAP in-place fence-lowering path must have served them:
    // re-cut counts grow while epochs stay 0.
    val fin = f.fenceTableDf(20)
      .agg(org.apache.spark.sql.functions.max("rc"),
        org.apache.spark.sql.functions.max("epoch")).head()
    assert(fin.getInt(0) >= 1, "no re-cut ever triggered — adversarial shape broken")
    assert(fin.getInt(1) === 0,
      "flood-only adversary took the epoch-bump path — cheap re-cut gate broken")
  }

  test("robots snapshot change: a fully-suppressed host still refills (no permanent starvation)") {
    import org.apache.spark.sql.functions.col
    import spark.implicits._
    // host0 carries most of the seed mass (cubic skew at hostPool=2),
    // far more than M, so its backlog is deep after the wave-1 cut
    val cfg = FrontierConfig(checkpointDir = tmpDir("robots-flip"),
      hostBudget = 3, headMult = 2, seenShards = 8, backlogBuckets = 8,
      outlinksPerUrl = 2, hostPool = 2)
    val seeds = Frontier.syntheticSeeds(spark, 300, hostPool = 2)
    val hosts = seeds.collect().flatMap(r =>
      Option(graft.Functions.canonAllFn(r.getString(0))._3)).distinct.toSeq
    val allowAll = hosts.map(h => (h, "User-agent: *\nAllow: /")).toDF("host", "robots_txt")
    val fA = new Frontier(spark, cfg, Some(allowAll))
    fA.initialize(seeds)
    fA.runWave()
    // deepest-backlog host is the starvation target
    val tRow = fA.fenceTableDf(1).orderBy(col("bn").desc).select("host", "bn").head()
    val (target, bn1) = (tRow.getString(0), tRow.getLong(1))
    assert(bn1 > 0, "test shape broken: no host has a backlog after wave 1")

    // resume under a NEW snapshot that disallows everything on the
    // target: its whole scheduled slice is suppressed every wave
    // (consumed, not fetched — RFC 9309 fetch-time semantics). The
    // pre-gate accounting superset must still see the host, or
    // needyCond never fires and it starves with bn>0 forever.
    val disallowT = hosts.map(h => (h,
      if (h == target) "User-agent: *\nDisallow: /" else "User-agent: *\nAllow: /"))
      .toDF("host", "robots_txt")
    val fB = new Frontier(spark, cfg, Some(disallowT))
    fB.runWave()
    assert(fB.scheduledDf(2).filter(col("host") === target).count() === 0,
      "suppression did not happen — snapshot change not picked up")
    val head2 = fB.headTableDf(2).filter(col("host") === target).count()
    assert(head2 > 0,
      "suppressed host was never refilled — it starves with a non-empty backlog")
    // and the backlog actually drains across further waves (consumed-
    // not-fetched), rather than sitting frozen behind an empty head
    fB.runWave(); fB.runWave()
    val bn4 = fB.fenceTableDf(4).filter(col("host") === target)
      .select("bn").head().getLong(0)
    assert(bn4 < bn1, s"backlog is not draining under suppression ($bn1 -> $bn4)")
  }

  test("late-discovered flood host (fp null): first-wave head already ≤ 2×M, first fence from the re-cut") {
    // seeds deliberately EXCLUDE the adversary's target hosts (0-4), so
    // the flood hits hosts with NO fence and NO prior state — the shape
    // where the re-cut's fp-null eligibility is the only thing bounding
    // the head (the schedule window never saw these hosts)
    val cfg = FrontierConfig(checkpointDir = tmpDir("recut-newhost"),
      hostBudget = 3, headMult = 2, seenShards = 8, backlogBuckets = 8,
      outlinksPerUrl = 6, hostPool = 50, outlinkMode = "adversarial",
      compactEvery = 6)
    val f = new Frontier(spark, cfg)
    val seeds = Frontier.syntheticSeeds(spark, 2000, hostPool = 50)
      .filter(!org.apache.spark.sql.functions.col("url")
        .rlike("host[0-4]\\.example"))
    f.initialize(seeds)
    val M = math.max(cfg.hostBudget, cfg.headMult * cfg.hostBudget)
    f.runWave()
    val heads = f.headTableDf(1).groupBy("host").count()
    val mx = heads.agg(org.apache.spark.sql.functions.max("count")).head().getLong(0)
    assert(mx <= 2L * M, s"wave 1: a late-discovered host's head grew past 2M ($mx > ${2 * M})")
    // non-vacuous: the flood hosts really were new (absent from wave-0
    // state) and really were re-cut to their FIRST fence at epoch 0
    val cutNew = f.fenceTableDf(1)
      .filter(org.apache.spark.sql.functions.col("host").rlike("host[0-4]\\.example"))
      .filter(org.apache.spark.sql.functions.col("rc") >= 1)
    assert(cutNew.count() >= 1,
      "no never-seeded host was re-cut — the adversarial flood missed the fp-null path")
    assert(cutNew.agg(org.apache.spark.sql.functions.max("epoch")).head().getInt(0) === 0)
  }

  test("pulse discovery (refill-then-flood): heads stay ≤ 2×M and the EPOCH-BUMP re-cut path fires") {
    // headMult=1 (M = budget): every drained head refills before the
    // next wave, so refills interleave with the pulse floods — exactly
    // the refill-then-flood sequence the epoch-bump re-cut exists for
    val cfg = FrontierConfig(checkpointDir = tmpDir("recut-epoch"),
      hostBudget = 3, headMult = 1, seenShards = 8, backlogBuckets = 8,
      outlinksPerUrl = 4, hostPool = 3, outlinkMode = "pulse",
      compactEvery = 6)
    val f = new Frontier(spark, cfg)
    f.initialize(Frontier.syntheticSeeds(spark, 600, hostPool = 3))
    val M = math.max(cfg.hostBudget, cfg.headMult * cfg.hostBudget)
    for (w <- 1 to 14) {
      f.runWave()
      val mx = f.headTableDf(w).groupBy("host").count()
        .agg(org.apache.spark.sql.functions.max("count")).head().getLong(0)
      assert(mx <= 2L * M, s"wave $w: a host's head grew past 2M ($mx > ${2 * M})")
    }
    // non-vacuous: a refill preceded some overgrowth, so at least one
    // re-cut had live copies to respect and bumped the epoch
    val fin = f.fenceTableDf(14)
      .agg(org.apache.spark.sql.functions.max("epoch"),
        org.apache.spark.sql.functions.max("rc")).head()
    assert(fin.getInt(0) >= 1,
      "pulse shape never forced the epoch-bump path — test shape broken")
    assert(fin.getInt(1) >= 1)
  }

  test("seen reshard 8→32 mid-crawl: probes, schedules and membership identical; stale config fails loudly") {
    import spark.implicits._
    val base = FrontierConfig(checkpointDir = tmpDir("reshard-a"),
      hostBudget = 4, seenShards = 8, outlinksPerUrl = 3, hostPool = 60)
    val seeds = Frontier.syntheticSeeds(spark, 1500, hostPool = 60)
    val fa = new Frontier(spark, base)
    fa.initialize(seeds)
    for (_ <- 1 to 3) fa.runWave()
    // control crawl: identical, never resharded
    val cfgB = base.copy(checkpointDir = tmpDir("reshard-b"))
    val fb = new Frontier(spark, cfgB)
    fb.initialize(seeds)
    for (_ <- 1 to 3) fb.runWave()

    val probe = Frontier.syntheticSeeds(spark, 500, seed = 99L, hostPool = 60)
    val pre = fa.freshOnly(probe).select("surt_key").collect().map(_.getString(0)).toSet
    fa.reshardSeen(32)
    val fa2 = new Frontier(spark, base.copy(seenShards = 32))
    val post = fa2.freshOnly(probe).select("surt_key").collect().map(_.getString(0)).toSet
    assert(post == pre, "membership probe changed across reshard")

    // crawl continues across the boundary, bit-identical to the control
    for (w <- 4 to 5) {
      fa2.runWave(); fb.runWave()
      def sched(f: Frontier) = f.scheduledDf(w)
        .select("surt_key", "priority", "rank_in_host").collect()
        .map(r => (r.getString(0), r.getInt(1), r.getInt(2))).sortBy(_._1).toVector
      assert(sched(fa2) == sched(fb), s"wave $w schedule diverged after reshard")
    }
    val sa = fa2.seenDf(5).collect().map(_.getString(0)).toSet
    val sb = fb.seenDf(5).collect().map(_.getString(0)).toSet
    assert(sa == sb, "seen membership diverged after reshard")

    // an instance still configured with the OLD shard count must fail
    // loudly, not read through the new index
    val e = intercept[IllegalArgumentException] { new Frontier(spark, base).runWave() }
    assert(e.getMessage.contains("seen shards"))
  }

  test("fence view is folded incrementally in-instance: O(delta) input, content equals full read") {
    val ck = tmpDir("fencefold")
    val cfg = FrontierConfig(checkpointDir = ck, hostBudget = 3, headMult = 2,
      seenShards = 8, backlogBuckets = 8, hostPool = 60)
    val f = new Frontier(spark, cfg)
    f.initialize(Frontier.syntheticSeeds(spark, 1500, hostPool = 60))
    (1 to 3).foreach(_ => f.runWave())
    val view = f.fenceTableDf(3)
    // served from the in-instance fold: a checkpointed leaf, NOT a
    // re-read of fence_base + every fence_delta dir (the O(hosts +
    // delta-dirs) per-wave reduce the round-6 fold removes)
    val leaves = view.queryExecution.analyzed.collectLeaves().map(_.nodeName)
    assert(leaves.forall(_ == "LogicalRDD"),
      s"wave-current fence view should be the folded in-instance leaf, got: $leaves")
    // and it must be row-identical to the cold full-read path
    val cold = new Frontier(spark, cfg) // fresh instance: no cache → full reduce
    val a = view.collect().map(_.toString).sorted
    val b = cold.fenceTableDf(3).collect().map(_.toString).sorted
    assert(a.sameElements(b), "incremental fence view diverged from full read")
    assert(a.nonEmpty, "vacuous: no fenced hosts in this shape")
  }

  test("robots re-gate skips only while the checkpoint has a single gate snapshot") {
    import spark.implicits._
    val ck = tmpDir("regateskip")
    val cfg = FrontierConfig(checkpointDir = ck, hostBudget = 3, seenShards = 8)
    val seeds = Frontier.syntheticSeeds(spark, 300)
    val f = new Frontier(spark, cfg)
    f.initialize(seeds)
    // single (synthetic) snapshot ever → re-gate is provably identity
    assert(f.gateUnchanged, "first instance must see only its own snapshot")
    f.runWave()
    // resume with the SAME gate: still skippable
    val f2 = new Frontier(spark, cfg)
    assert(f2.gateUnchanged, "same-snapshot resume must keep the skip")
    // resume with a DIFFERENT gate (real robots table): pending rows
    // were inserted under the synthetic gate, so the re-gate must run
    val hosts = f.pendingDf(1).select("host").distinct().as[String].collect().toSeq
    val robots = hosts.map(h => (h, "User-agent: *\nDisallow: /seed\n")).toDF("host", "robots_txt")
    val f3 = new Frontier(spark, cfg, robots = Some(robots))
    assert(!f3.gateUnchanged,
      "changed snapshot must disable the re-gate skip (RFC 9309 fetch-time check)")
    // and from now on the checkpoint is permanently multi-snapshot
    val f4 = new Frontier(spark, cfg, robots = Some(robots))
    assert(!f4.gateUnchanged, "multi-snapshot history must keep the re-gate on")
  }

  test("generated classes stay cached across crawls: an identical second crawl compiles ≤ 10% as many") {
    def crawl(name: String): (Seq[(Long, Long)], Long) = {
      val cfg = FrontierConfig(checkpointDir = tmpDir(name), hostBudget = 5, seenShards = 16)
      val f = new Frontier(spark, cfg)
      val rs = f.initialize(Frontier.syntheticSeeds(spark, 300)) +: (1 to 3).map(_ => f.runWave())
      val compiles = rs.map { r =>
        val m = new String(Files.readAllBytes(Paths.get(cfg.checkpointDir, s"MANIFEST-${r.wave}.json")),
          "UTF-8")
        """"codegen_compiles":(\d+)""".r.findFirstMatchIn(m).map(_.group(1).toLong)
          .getOrElse(fail(s"no codegen_compiles in $m"))
      }
      (rs.map(r => (r.scheduled, r.deduped)), compiles.sum)
    }
    // start from an empty class cache (Spark-private, hence reflection),
    // so the first crawl compiles its whole working set whatever earlier
    // tests in this JVM left cached
    val cacheOf = CodeGenerator.getClass.getDeclaredMethod("cache")
    cacheOf.setAccessible(true)
    val cache = cacheOf.invoke(CodeGenerator)
    cache.getClass.getMethod("invalidateAll").invoke(cache)
    val (counts1, compiles1) = crawl("codegen1")
    val (counts2, compiles2) = crawl("codegen2")
    info(s"classes compiled: first crawl $compiles1, second crawl $compiles2")
    assert(counts2 == counts1, "the two crawls must do the same work")
    // Spark's default 100-entry cache holds less than one wave's ~200
    // classes, so there every wave recompiles and both crawls compile alike
    assert(compiles2 * 10 <= compiles1,
      s"second crawl recompiled: $compiles2 classes vs $compiles1 in the first")
  }

  test("a Frontier registers no SQL function: a fresh session runs a wave without canon_all") {
    val s2 = bareSession()
    val f = new Frontier(s2, FrontierConfig(checkpointDir = tmpDir("newsession"),
      hostBudget = 5, seenShards = 8))
    f.initialize(Frontier.syntheticSeeds(s2, 300))
    assert(f.runWave().scheduled > 0)
    assert(!s2.catalog.functionExists("canon_all"))
  }

  test("q43_seen_probe runs on a session with no registered SQL function") {
    val s2 = bareSession()
    assert(graft.SparkEntry.queries("q43_seen_probe")(s2, sfDir).count() > 0)
    assert(!s2.catalog.functionExists("canon_all"))
  }

  test("wave-loop driver listings are cached: per-wave FS list calls flat in crawl length") {
    val cfg = FrontierConfig(checkpointDir = tmpDir("listcache"),
      hostBudget = 3, headMult = 2, seenShards = 8, backlogBuckets = 8,
      outlinksPerUrl = 3, hostPool = 60, compactEvery = 4)
    val f = new Frontier(spark, cfg)
    f.initialize(Frontier.syntheticSeeds(spark, 1500, hostPool = 60))
    val deltas = (1 to 11).map { _ =>
      val b = f.fsListOps.get(); f.runWave(); f.fsListOps.get() - b
    }
    // steady-state waves (not compaction waves 4/8) must not re-list
    // every accumulated delta dir: per-wave listing work stays flat as
    // the crawl grows, and bounded by O(changed dirs)
    val early = Seq(deltas(4), deltas(5), deltas(6)).max // waves 5-7
    val late = Seq(deltas(8), deltas(9), deltas(10)).max // waves 9-11
    assert(late <= early + 8,
      s"listing calls grew with crawl length: ${deltas.toList}")
    assert(Seq(4, 5, 6, 8, 9, 10).map(deltas).forall(_ <= 64),
      s"steady-wave listing calls not O(changed dirs): ${deltas.toList}")
  }

  test("every job of initialize and of a wave carries its own step's label") {
    import scala.concurrent.Await
    import scala.concurrent.duration.Duration
    // leave a stale label on every state-write pool thread and on this
    // thread: a step that sets no label of its own would report it
    val latch = new java.util.concurrent.CountDownLatch(8)
    (1 to 8).map(_ => Frontier.guarded {
      spark.sparkContext.setJobDescription("stale"); latch.countDown(); latch.await()
    }).foreach(Await.result(_, Duration.Inf))
    spark.sparkContext.setJobDescription("stale")
    val labels = new java.util.concurrent.ConcurrentLinkedQueue[String]
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(e: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        labels.add(String.valueOf(e.properties.getProperty("spark.job.description")))
    }
    def jobsOf(body: => Any): Seq[String] = {
      body
      org.apache.spark.SparkInternals.drainListenerBus(spark.sparkContext)
      val out = labels.asScala.toVector
      labels.clear()
      out
    }
    val f = new Frontier(spark, FrontierConfig(checkpointDir = tmpDir("labels"),
      hostBudget = 4, headMult = 1, seenShards = 16, backlogBuckets = 8))
    val seeds = Frontier.syntheticSeeds(spark, 3000, hostPool = 40)
    spark.sparkContext.addSparkListener(listener)
    try {
      val init = jobsOf(f.initialize(seeds))
      assert(init.toSet == Set("init:seen", "init:shards", "init:head"), s"init jobs: $init")
      for (w <- 1 to 2) {
        val jobs = jobsOf(f.runWave())
        val foreign = jobs.filterNot(l =>
          l.startsWith(s"wave$w:") || l.startsWith("wave:") || l.startsWith("maint:"))
        assert(foreign.isEmpty, s"wave $w ran jobs labelled $foreign")
        assert(Set(s"wave$w:schedule", s"wave$w:discover", "maint:accounting")
          .subsetOf(jobs.toSet), s"wave $w jobs: ${jobs.distinct}")
      }
    } finally spark.sparkContext.removeSparkListener(listener)
  }

  test("initialize and runWave give the caller its own job description back") {
    def desc = spark.sparkContext.getLocalProperty("spark.job.description")
    val cfg = FrontierConfig(checkpointDir = tmpDir("callerLabel"), hostBudget = 4,
      headMult = 1, seenShards = 16, backlogBuckets = 8)
    spark.sparkContext.setJobDescription("caller")
    try {
      val f = new Frontier(spark, cfg)
      f.initialize(Frontier.syntheticSeeds(spark, 2000, hostPool = 20))
      assert(desc == "caller", "after initialize")
      f.runWave()
      assert(desc == "caller", "after runWave")
      // a call that fails after setting its first label: seeds with no url column
      val g = new Frontier(spark, cfg.copy(checkpointDir = tmpDir("callerLabelFail")))
      intercept[Exception](g.initialize(spark.range(3).toDF("x")))
      assert(desc == "caller", "after a failed initialize")
    } finally spark.sparkContext.setJobDescription(null)
  }

  test("every manifest field can be recomputed from the state the wave wrote") {
    import org.apache.spark.sql.functions.{col, sum}
    val cfg = FrontierConfig(checkpointDir = tmpDir("manifest"), hostBudget = 4,
      headMult = 1, seenShards = 16, backlogBuckets = 8, compactEvery = 2)
    def manifest(w: Int): Map[String, Double] = {
      val js = new String(Files.readAllBytes(Paths.get(cfg.checkpointDir, s"MANIFEST-$w.json")),
        "UTF-8")
      graft.core.Json.parse(js) match {
        case Right(graft.core.JsValue.JsObj(kv)) =>
          kv.collect { case (k, graft.core.JsValue.JsNum(v)) => k -> v }.toMap
        case other => fail(s"bad manifest $w: $other")
      }
    }
    val f = new Frontier(spark, cfg)
    // ~10 % of the seeds listed twice: wave 0's candidates count them all
    val base = Frontier.syntheticSeeds(spark, 3000, hostPool = 40)
    val seeds = base.unionByName(base.filter(col("url").endsWith("0")))
    f.initialize(seeds)
    assert(manifest(0)("candidates") == seeds.count())
    assert(manifest(0)("candidates") > manifest(0)("deduped"))
    assert(manifest(0)("deduped") == f.seenDf(0).count())
    assert(manifest(0)("seen_total") == f.seenDf(0).count())
    assert(manifest(0)("pending_total") == f.headTableDf(0).count())
    for (w <- 1 to 4) {
      f.runWave()
      val m = manifest(w)
      assert(m.values.forall(_ >= 0), s"wave $w manifest holds a negative count: $m")
      assert(m("seen_total") == f.seenDf(w).count(), s"wave $w seen_total")
      val bn = f.fenceTableDf(w).agg(sum(col("bn"))).head()
      val pending = f.headTableDf(w).count() + (if (bn.isNullAt(0)) 0L else bn.getLong(0))
      assert(m("pending_total") == pending, s"wave $w pending_total")
      val lineage = f.metricsDf(w).agg(sum(col("n_scheduled"))).head().getLong(0)
      assert(m("scheduled") == f.scheduledDf(w).count() && m("scheduled") == lineage,
        s"wave $w scheduled")
      // every scheduled URL emits outlinksPerUrl parseable links, and
      // the synthetic robots rule drops some fresh rows every wave
      assert(m("candidates") == cfg.outlinksPerUrl * m("scheduled"), s"wave $w candidates: $m")
      assert(m("allowed") < m("fresh") && m("fresh") <= m("candidates"), s"wave $w layers: $m")
      assert(m("fresh") == m("deduped"))
    }
    assert(f.fenceTableDf(4).count() > 0 && manifest(4)("allowed") > 0, "no fences or no fresh rows")
    // a wave re-run after its manifest is lost publishes the same one
    val noTiming = (m: Map[String, Double]) =>
      m -- Seq("elapsed_sec", "codegen_compiles", "codegen_ms")
    val before = noTiming(manifest(4))
    Files.delete(Paths.get(cfg.checkpointDir, "MANIFEST-4.json"))
    assert(new Frontier(spark, cfg).runWave().wave == 4)
    assert(noTiming(manifest(4)) == before)
  }
}
