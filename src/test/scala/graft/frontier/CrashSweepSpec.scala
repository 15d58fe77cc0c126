package graft.frontier

import org.scalatest.funsuite.AnyFunSuite
import graft.{FaultyFs, SparkTestBase}
import java.nio.file.{Files, Path}
import scala.jdk.CollectionConverters._

/** Crash sweep over the state-store commit protocol: for each store and
  * each commit point of a compaction, fail that one file-system call,
  * resume with a fresh Frontier and check that nothing was lost or
  * duplicated, that the next compaction heals, and that the crawl
  * continues exactly like a run without the fault. */
class CrashSweepSpec extends AnyFunSuite with SparkTestBase {
  import CheckpointFiles._

  private final class Store(val name: String, val base: String, val prefix: String,
                            val delta: Int => String,
                            val compact: (Frontier, Int) => Unit,
                            val of: Frontier => StateStore)

  private val stores = Seq(
    new Store("seen", "seen_base", "SEEN_BASE-", w => s"seen/wave=$w",
      _.compactSeen(_), _.seenStore),
    new Store("fence", "fence_base", "FENCE_BASE-", w => s"fence_delta/wave=$w",
      _.compactFence(_), _.fenceStore),
    new Store("backlog", "backlog_base", "BACKLOG_BASE-", w => s"maint/wave=$w/dest=spill",
      _.compactBacklog(_), _.backlogStore))

  private def cfg(ck: String) = FrontierConfig(checkpointDir = ck, hostBudget = 4,
    headMult = 1, backlogBuckets = 8, seenShards = 16, compactEvery = 1000, fastMode = true)

  /** Four waves, every store compacted to 2: compacting to 4 then
    * writes a base, publishes a marker and GCs run 2 and deltas 3, 4. */
  private lazy val base: Path = {
    FaultyFs.register(spark)
    val local = graft.Scratch.dir("sweep-base")
    val f = new Frontier(spark, cfg(FaultyFs.uri(local.toString)))
    f.initialize(Frontier.syntheticSeeds(spark, 3000, hostPool = 40))
    (1 to 4).foreach(_ => f.runWave())
    stores.foreach(_.compact(f, 2))
    local
  }

  private def copyOfBase(name: String): (Path, FrontierConfig) = {
    val local = graft.Scratch.dir(s"sweep-$name")
    copyRec(base, local)
    (local, cfg(FaultyFs.uri(local.toString)))
  }

  /** Sorted rows of the seen, fence and pending views as of wave 4. */
  private def views(f: Frontier): Seq[Vector[String]] = {
    val seen = keys(f.seenDf(4))
    val pend = keys(f.pendingDf(4))
    val dups = seen.size - seen.distinct.size + pend.size - pend.distinct.size
    assert(dups == 0, s"$dups duplicate surt_keys in the seen and pending views")
    Seq(seen, f.fenceTableDf(4).collect().map(_.toString).sorted.toVector,
      f.pendingDf(4).collect().map(_.toString).sorted.toVector)
  }

  private def nextTwoWaves(f: Frontier): Seq[Vector[String]] =
    (1 to 2).map { _ => keys(f.scheduledDf(f.runWave().wave)) }

  private def assertHealed(local: Path, s: Store, label: String): Unit = {
    val markers = Files.list(local).iterator().asScala.map(_.getFileName.toString)
      .filter(_.contains(s.prefix)).toSet
    assert(markers == Set(s"${s.prefix}4.json"), s"$label: markers left $markers")
    val runs = Files.list(local.resolve(s.base)).iterator().asScala
      .map(_.getFileName.toString).toSet
    assert(runs == Set("upto=4"), s"$label: base runs left $runs")
    Seq(3, 4).foreach(w =>
      assert(!Files.exists(local.resolve(s.delta(w))), s"$label: delta $w left"))
  }

  for (s <- stores) test(s"crash sweep: ${s.name} store compaction, every commit point") {
    val (ctlDir, ctlCfg) = copyOfBase(s"${s.name}-control")
    s.compact(new Frontier(spark, ctlCfg), 4)
    if (s.name == "backlog")
      assert(folded(ctlDir, "BACKLOG_BASE-4.json") == Seq(2), "expected a merge of run 2")
    val ctl = new Frontier(spark, ctlCfg)
    val ctlViews = views(ctl)
    val ctlWaves = nextTwoWaves(ctl)

    val gcDeletes = Seq(s"/${s.base}/upto=2$$", s"/${s.prefix}2\\.json$$",
      s"/${s.delta(3)}$$", s"/${s.delta(4)}$$")
    val tmp = s"/\\.${s.prefix}4\\.json\\.tmp$$"
    val points = Seq(("create", s"/${s.base}/upto=4/"), ("create", tmp), ("rename", tmp)) ++
      gcDeletes.map(("delete", _))
    for (((op, re), i) <- points.zipWithIndex) {
      val label = s"${s.name} $op $re"
      val (local, c) = copyOfBase(s"${s.name}-$i")
      val f = new Frontier(spark, c)
      FaultyFs.arm(op, re)
      val failed =
        try { s.compact(f, 4); None }
        catch { case e: Exception => Some(e) }
        finally FaultyFs.disarm()
      assert(FaultyFs.fired == 1, s"$label: fault not injected")
      if (op == "delete") {
        // GC failures are recorded, not raised
        assert(failed.isEmpty, s"$label: GC failure raised: $failed")
        assert(s.of(f).gcFailures.get() == 1, s"$label: GC failure not recorded")
      } else assert(failed.nonEmpty, s"$label: commit fault swallowed")

      val g = new Frontier(spark, c)
      val sameViews = views(g) == ctlViews
      assert(sameViews, s"$label: resumed views differ from the control")
      s.compact(g, 4)
      assertHealed(local, s, label)
      val sameWaves = nextTwoWaves(g) == ctlWaves
      assert(sameWaves, s"$label: schedule differs from the control")
    }
  }
}
