package graft.frontier

import org.scalatest.funsuite.AnyFunSuite
import graft.{FaultyFs, SparkTestBase}
import java.nio.file.{Files, Path, StandardCopyOption}
import org.apache.spark.sql.DataFrame
import scala.jdk.CollectionConverters._

/** Local-disk helpers for tests that drive a checkpoint at
  * `faulty://<dir>` and inspect or rewind `<dir>` directly. */
private[frontier] object CheckpointFiles {
  def copyRec(src: Path, dst: Path): Unit =
    Files.walk(src).iterator().asScala.foreach { p =>
      val t = dst.resolve(src.relativize(p).toString)
      if (Files.isDirectory(p)) Files.createDirectories(t)
      else {
        Files.createDirectories(t.getParent)
        Files.copy(p, t, StandardCopyOption.REPLACE_EXISTING)
      }
    }

  def bytes(d: Path): Long =
    Files.walk(d).iterator().asScala.filter(Files.isRegularFile(_)).map(Files.size).sum

  /** Run ids a published marker claims (its `folded` list). */
  def folded(ck: Path, marker: String): Seq[Int] = {
    val js = new String(Files.readAllBytes(ck.resolve(marker)), "UTF-8")
    """"folded"\s*:\s*\[([0-9,\s]*)\]""".r.findFirstMatchIn(js).toSeq
      .flatMap(_.group(1).split(",").toSeq.map(_.trim).filter(_.nonEmpty).map(_.toInt))
  }

  def keys(df: DataFrame): Vector[String] =
    df.select("surt_key").collect().map(_.getString(0)).sorted.toVector
}

/** Marker reads and folded-run claims of the state stores, and GC
  * failures of the per-wave prune, driven through the public Frontier
  * API on a fault-injecting file system. */
class StateStoreSpec extends AnyFunSuite with SparkTestBase {
  import CheckpointFiles._

  private def faultyCk(name: String): (String, Path) = {
    FaultyFs.register(spark)
    val local = graft.Scratch.dir(s"store-$name")
    (FaultyFs.uri(local.toString), local)
  }

  /** A checkpoint in the crash-before-GC state of a backlog merge: run
    * 4's marker (claiming run 2) is published, and run 2's dir and
    * marker are back on disk. Returns the config, the local dir and the
    * pending surt keys as of wave 6 before the crash. */
  private def crashedBeforeGc(name: String): (FrontierConfig, Path, Vector[String]) = {
    val (ck, local) = faultyCk(name)
    val cfg = FrontierConfig(checkpointDir = ck, hostBudget = 4, headMult = 1,
      backlogBuckets = 8, seenShards = 16, compactEvery = 1000)
    val f = new Frontier(spark, cfg)
    f.initialize(Frontier.syntheticSeeds(spark, 3000, hostPool = 40))
    (1 to 6).foreach(_ => f.runWave())
    f.compactBacklog(2)
    val snap = graft.Scratch.dir(s"store-$name-snap")
    copyRec(local.resolve("backlog_base/upto=2"), snap.resolve("upto=2"))
    Files.copy(local.resolve("BACKLOG_BASE-2.json"), snap.resolve("BACKLOG_BASE-2.json"))
    f.compactBacklog(4) // tiers comparable in size → merge folding run 2
    assert(folded(local, "BACKLOG_BASE-4.json") == Seq(2), "expected a merge claiming run 2")
    val truth = keys(f.pendingDf(6))
    assert(truth.nonEmpty && truth.size == truth.toSet.size)
    copyRec(snap.resolve("upto=2"), local.resolve("backlog_base/upto=2"))
    Files.copy(snap.resolve("BACKLOG_BASE-2.json"), local.resolve("BACKLOG_BASE-2.json"))
    (cfg, local, truth)
  }

  test("a claiming marker that exists but cannot be read raises, never reads the claimed run") {
    val (cfg, _, truth) = crashedBeforeGc("unreadable")
    FaultyFs.arm("open", "/BACKLOG_BASE-4\\.json$")
    try {
      val f2 = new Frontier(spark, cfg)
      // reading run 4's claim fails: treating the marker as claim-less
      // would read run 2 beside run 4 and return every merged row twice
      intercept[Exception] { f2.pendingDf(6).collect() }
      assert(FaultyFs.fired == 1)
    } finally FaultyFs.disarm()
    val healed = keys(new Frontier(spark, cfg).pendingDf(6)) == truth
    assert(healed, "pending view differs once the marker is readable again")
  }

  test("folded-run claims are transitive: a failed heal delete never un-claims a run") {
    val (cfg, local, truth) = crashedBeforeGc("transitive")
    // a hidden file (no reader lists it) sized like run 4 in the newest
    // spill delta makes the tiering policy merge run 4 next
    Files.write(local.resolve("maint/wave=6/dest=spill/_pad"),
      new Array[Byte](bytes(local.resolve("backlog_base/upto=4")).toInt))
    // the heal's deletes of run 2 (dir and marker) fail
    FaultyFs.arm("delete", "/backlog_base/upto=2$|/BACKLOG_BASE-2\\.json$", count = 2)
    try new Frontier(spark, cfg).compactBacklog(6)
    finally FaultyFs.disarm()
    assert(FaultyFs.fired >= 1)
    val claims = folded(local, "BACKLOG_BASE-6.json")
    assert(claims.contains(4) && claims.contains(2),
      s"merge of run 4 must also claim run 2, which run 4 claimed: $claims")
    val pend = keys(new Frontier(spark, cfg).pendingDf(6))
    val same = pend == truth
    assert(same, s"pending diverged: ${pend.size} rows vs ${truth.size}")
  }

  test("a failed level-file prune delete is counted, the wave commits, the next wave removes the file") {
    val (ck, local) = faultyCk("prune")
    val f = new Frontier(spark, FrontierConfig(checkpointDir = ck, hostBudget = 4,
      seenShards = 16, compactEvery = 1000))
    f.initialize(Frontier.syntheticSeeds(spark, 3000, hostPool = 40))
    val shards = local.resolve("shards")
    def levels: Set[String] = Files.walk(shards).iterator().asScala
      .map(p => shards.relativize(p).toString).filter(_.endsWith(".lvl")).toSet
    def indexed(w: Int): Set[String] =
      Files.readAllLines(shards.resolve(s"wave=$w/INDEX.txt")).asScala.drop(1)
        .flatMap(_.trim.split(" ").drop(1)).toSet
    FaultyFs.arm("delete", "\\.lvl$")
    val faulted =
      try (1 to 6).iterator.map(_ => f.runWave().wave).find(_ => FaultyFs.fired > 0)
      finally FaultyFs.disarm()
    assert(faulted.isDefined, "no superseded level file was pruned in 6 waves")
    val w = faulted.get
    assert(FaultyFs.fired == 1)
    assert(f.latestCommittedWave() == w, s"wave $w did not commit")
    assert(f.pruneFailures.get() == 1, "failed prune delete not counted")
    val stale = levels -- indexed(w) -- indexed(w - 1)
    assert(stale.size == 1, s"expected the one undeleted level, found $stale")
    f.runWave()
    assert(!Files.exists(shards.resolve(stale.head)), s"${stale.head} not retried")
    assert(f.pruneFailures.get() == 1)
  }
}
