package graft.frontier

import org.scalatest.funsuite.AnyFunSuite
import graft.SparkTestBase
import java.nio.file.Files

/** North-rule comparator: the distributed frontier must reproduce the
  * sequential reference crawler's ordering + seen membership exactly,
  * under the same seed list + politeness budget. */
class CrawlParitySpec extends AnyFunSuite with SparkTestBase {

  test("distributed schedule == sequential reference schedule, 3 waves") {
    parityRun("crawl-parity", FrontierConfig(
      checkpointDir = graft.Scratch.dir("crawl-parity").toString,
      hostBudget = 4, seenShards = 8, outlinksPerUrl = 3, hostPool = 60), waves = 3)
  }

  test("refill stress: headMult=1 (refill every wave) still matches the reference, 5 waves") {
    // M = hostBudget: every scheduled host drains its whole head each
    // wave and must refill from the bucketed backlog before the next —
    // the maximum-traffic path through fence raises + stale-copy
    // filtering. Exactness must be bit-identical to the sequential
    // reference anyway.
    parityRun("crawl-parity-refill", FrontierConfig(
      checkpointDir = graft.Scratch.dir("crawl-parity-refill").toString,
      hostBudget = 4, headMult = 1, backlogBuckets = 8,
      seenShards = 8, outlinksPerUrl = 3, hostPool = 60), waves = 5)
  }

  test("compacted-refill parity: rank-banded base + bounds settle stays exact across compactions, 8 waves") {
    // headMult=1 forces a refill EVERY wave; compactEvery=2 folds the
    // backlog into the rank-banded base (with bkb=-1 bounds sidecars)
    // repeatedly mid-crawl — every refill after wave 2 reads the new
    // banded layout, and the bounds-based settle must keep schedules
    // bit-identical to the sequential reference
    parityRun("crawl-parity-compact-refill", FrontierConfig(
      checkpointDir = graft.Scratch.dir("crawl-parity-compact-refill").toString,
      hostBudget = 4, headMult = 1, backlogBuckets = 8, compactEvery = 2,
      seenShards = 8, outlinksPerUrl = 3, hostPool = 60), waves = 8)
  }

  test("adversarial overgrowth parity: epoch'd per-host re-cuts still match the reference, 6 waves") {
    // "adversarial" discovery concentrates always-best priorities on a
    // tiny host set — every fresh row beats any fence, heads overgrow,
    // and the engine's epoch'd per-host re-cut (fence reset + epoch
    // bump) fires repeatedly. The schedule must STILL be bit-identical
    // to the sequential reference: the re-cut is a state reshape, never
    // a semantic change. Run on both re-cut paths: the driver-literal
    // one (default cap) and the distributed join (cap 0).
    for (collectMax <- recutPaths) {
      val cfg = FrontierConfig(
        checkpointDir = graft.Scratch.dir(s"crawl-parity-recut-$collectMax").toString,
        hostBudget = 3, headMult = 2, backlogBuckets = 8,
        seenShards = 8, outlinksPerUrl = 4, hostPool = 40,
        outlinkMode = "adversarial", recutCollectMax = collectMax)
      parityRun("crawl-parity-recut", cfg, waves = 6)
      val (rc, _) = maxRecutAndEpoch(cfg, 6)
      assert(rc >= 1, s"recutCollectMax=$collectMax: no host was ever re-cut")
    }
  }

  test("pulse parity: refill-then-flood epoch-bump re-cuts still match the reference, 7 waves") {
    // the pulse shape alternates draining (refills plant stale backlog
    // copies) with always-best floods (overgrowth) — the ONE sequence
    // where the cheap fence-lowering re-cut would resurrect copies and
    // the engine must take the epoch-bump path instead. Bit-identical
    // schedules prove both re-cut paths and the rf gate between them
    // are pure state reshapes. headMult=1 refills every drained head,
    // and seeds on the same 3 hosts make the floods land on refilled
    // hosts; the fence epoch check below keeps the test non-vacuous.
    val seeds = Frontier.syntheticSeeds(spark, 600, hostPool = 3).collect()
      .map(r => (r.getString(0), r.getInt(1))).toSeq
    for (collectMax <- recutPaths) {
      val cfg = FrontierConfig(
        checkpointDir = graft.Scratch.dir(s"crawl-parity-pulse-$collectMax").toString,
        hostBudget = 3, headMult = 1, backlogBuckets = 8,
        seenShards = 8, outlinksPerUrl = 4, hostPool = 3,
        outlinkMode = "pulse", recutCollectMax = collectMax)
      parityRun("crawl-parity-pulse", cfg, waves = 7, seedRows = Some(seeds))
      val (rc, epoch) = maxRecutAndEpoch(cfg, 7)
      assert(rc >= 1, s"recutCollectMax=$collectMax: no host was ever re-cut")
      assert(epoch >= 1,
        s"recutCollectMax=$collectMax: pulse shape never forced the epoch-bump path")
    }
  }

  test("real-robots parity: disallows, longest-match, group merge and crawl-delay k_eff match the reference, 5 waves") {
    val cfg = FrontierConfig(
      checkpointDir = graft.Scratch.dir("crawl-parity-robots").toString,
      hostBudget = 6, seenShards = 8, outlinksPerUrl = 3, hostPool = 60)
    // deterministic robots body per host: agent-specific groups that
    // override `*`, multi-agent group merging, longest-match
    // allow/disallow pairs, and crawl-delays that shrink k_eff
    // (waveWindowSec=60: delay 25 → k_eff=2, delay 13 → k_eff=4)
    def robotsFor(host: String): Option[String] =
      java.lang.Math.floorMod(SeenFilter.hashKey("robots:" + host), 5L) match {
        case 0 => Some("User-agent: *\nDisallow: /\n\n" +
          "User-agent: graft\nUser-agent: otherbot\nDisallow: /p/3\nCrawl-delay: 25\n")
        case 1 => Some("User-agent: *\nDisallow: /p/1\nAllow: /p/12\n")
        case 2 => Some("User-agent: graft\nCrawl-delay: 13\n")
        case 3 => Some("User-agent: *\nDisallow: /private\n")
        case _ => None
      }
    val hostOf = (u: String) => Option(graft.Functions.canonAllFn(u)._3)
    val seedRows = Frontier.syntheticSeeds(spark, 800, hostPool = cfg.hostPool)
      .collect().map(r => (r.getString(0), r.getInt(1))).toSeq
    val hosts = (seedRows.flatMap(s => hostOf(s._1)) ++
      (0 until cfg.hostPool).map(i => s"www.host$i.example.org")).distinct
    val robotsMap = hosts.flatMap(h => robotsFor(h).map(h -> _)).toMap
    assert(robotsMap.size > 10, "robots universe unexpectedly trivial")
    import spark.implicits._
    val robotsDf = robotsMap.toSeq.toDF("host", "robots_txt")
    val perWave = parityRun("crawl-parity-robots", cfg, waves = 5,
      seedRows = Some(seedRows), robots = Some(robotsMap -> robotsDf))
    // non-vacuity: the capped budgets actually bit — some delay-25 host
    // scheduled exactly k_eff=2 rows in a wave where an uncapped host
    // hit the full budget of 6
    val delayCapped = for {
      sched <- perWave
      (host, n) <- sched.groupBy(_._2).view.mapValues(_.size)
      if n == 2 && robotsMap.get(host).exists(_.contains("Crawl-delay: 25"))
    } yield host
    assert(delayCapped.nonEmpty, "no crawl-delay-capped host ever filled k_eff=2")
    assert(perWave.exists(_.groupBy(_._2).values.exists(_.size == 6)),
      "no uncapped host ever hit the full budget")
    // a longest-match ALLOW carve-out (/p/12 under Disallow /p/1) was
    // actually exercised, and nothing disallowed ever scheduled
    val scheduledUrls = perWave.flatten.map(_._5)
    assert(scheduledUrls.exists(u => hostOf(u).exists(h =>
        robotsMap.get(h).exists(_.contains("Allow: /p/12"))) &&
        u.contains("/p/12")),
      "allow carve-out never exercised")
    for (u <- scheduledUrls; h <- hostOf(u); txt <- robotsMap.get(h)) {
      val g = Robots.groupFor(Robots.parse(txt), cfg.agent)
      val path = u.replaceFirst("^[a-zA-Z][a-zA-Z0-9+.-]*://[^/]*", "") match {
        case "" => "/"; case p => p
      }
      assert(Robots.isAllowed(g.map(_.rules).getOrElse(Seq.empty), path),
        s"disallowed URL scheduled: $u")
    }
  }

  /** The two re-cut paths: driver-literal (default cap) and the
    * distributed join (cap 0). */
  private val recutPaths = Seq(FrontierConfig(checkpointDir = "").recutCollectMax, 0)

  /** Max re-cut count and max fence epoch over all hosts as of `wave`. */
  private def maxRecutAndEpoch(cfg: FrontierConfig, wave: Int): (Int, Int) = {
    import org.apache.spark.sql.functions.max
    val r = new Frontier(spark, cfg).fenceTableDf(wave).agg(max("rc"), max("epoch")).head()
    (r.getInt(0), r.getInt(1))
  }

  /** Runs engine and sequential reference side by side; returns each
    * wave's schedule as (priority, host, surt, rank, url) rows. */
  private def parityRun(name: String, cfg: FrontierConfig, waves: Int,
                        seedRows: Option[Seq[(String, Int)]] = None,
                        robots: Option[(Map[String, String], org.apache.spark.sql.DataFrame)] = None)
      : Vector[Vector[(Int, String, String, Int, String)]] = {

    // identical seed list on both sides
    val seeds = seedRows.getOrElse(Frontier.syntheticSeeds(spark, 1000).collect()
      .map(r => (r.getString(0), r.getInt(1))).toSeq)

    val sim = new ReferenceCrawler.Sim(cfg, robots.map(_._1).getOrElse(Map.empty))
    sim.initialize(seeds)

    val f = new Frontier(spark, cfg, robots.map(_._2))
    import spark.implicits._
    f.initialize(seeds.toDF("url", "priority"))

    val out = Vector.newBuilder[Vector[(Int, String, String, Int, String)]]
    for (wave <- 1 to waves) {
      val expect = sim.runWave().map { case (e, rank) =>
        (e.priority, e.host, e.surtKey, rank)
      }
      f.runWave()
      val got = f.scheduledDf(wave)
        .select("priority", "host", "surt_key", "rank_in_host", "canonical_url")
        .collect()
        .map(r => (r.getInt(0), r.getString(1), r.getString(2), r.getInt(3), r.getString(4)))
        .sortBy(t => (t._1, t._2, t._3)).toVector
      assert(got.map(t => (t._1, t._2, t._3, t._4)) == expect,
        s"wave $wave schedule differs from reference")
      out += got
    }

    // URL-seen membership identical
    val engineSeen = f.seenDf(waves).collect().map(_.getString(0)).toSet
    assert(engineSeen == sim.seenSet, "seen membership differs from reference")
    out.result()
  }
}

class WarcSinkSpec extends AnyFunSuite with SparkTestBase {
  test("distributed WARC sink: write then rescan round-trips records") {
    import graft.sources.{WarcScan, WarcSink}
    val src = WarcScan.warcRecords(spark, Seq(fixturePath("example.warc.gz")))
    val outDir = graft.Scratch.dir("warcsink").toString
    WarcSink.write(src.repartition(2), outDir)
    val files = new java.io.File(outDir).listFiles().filter(_.getName.endsWith(".warc.gz"))
    assert(files.nonEmpty)
    val back = WarcScan.warcRecords(spark, files.map(_.getPath).toSeq)
    val origKey = src.collect().map(r => (r.recordId, r.warcType, r.targetUri,
      Option(r.payload).map(_.length).getOrElse(0))).toSet
    val backKey = back.collect().map(r => (r.recordId, r.warcType, r.targetUri,
      Option(r.payload).map(_.length).getOrElse(0))).toSet
    assert(backKey == origKey)
    // payload digests preserved verbatim through the sink
    val origDig = src.collect().flatMap(r => Option(r.payloadDigest)).toSet
    val backDig = back.collect().flatMap(r => Option(r.payloadDigest)).toSet
    assert(backDig == origDig)
  }
}
