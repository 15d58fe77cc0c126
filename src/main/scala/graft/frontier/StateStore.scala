package graft.frontier

import java.util.concurrent.atomic.AtomicLong
import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.SparkSession

/** Atomic JSON marker files in the checkpoint root — the commit points
  * of the frontier (MANIFEST, FENCES, ROBOTS_*, and the state stores'
  * base markers). All access goes through the checkpoint's Hadoop
  * FileSystem (NOT java.nio), so the protocol works on hdfs:/s3a:/file:
  * alike; local-fs checksum wrapping is unwrapped (see Frontier.rawFs). */
final class Markers(spark: SparkSession, ckDir: String) {
  private val root = new Path(ckDir)
  private def fs: FileSystem = Frontier.rawFs(root, spark.sessionState.newHadoopConf())

  /** Group 1 of every marker name matching `re`. */
  def names(re: scala.util.matching.Regex): Seq[String] = {
    val f = fs
    if (!f.exists(root)) Nil
    else f.listStatus(root).toSeq.flatMap(st => st.getPath.getName match {
      case re(g) => Some(g)
      case _     => None
    })
  }

  /** Wave numbers of the markers matching `re` (one numeric group). */
  def list(re: scala.util.matching.Regex): Seq[Int] = names(re).map(_.toInt)

  /** Write to a dot-tmp on the SAME filesystem, then rename onto the
    * final name (atomic on HDFS and posix local fs; the accepted
    * create-then-rename pattern on object stores). */
  def publish(name: String, json: String): Unit = {
    val f = fs
    f.mkdirs(root)
    val tmp = new Path(root, s".$name.tmp")
    val out = f.create(tmp, true)
    try out.write(json.getBytes("UTF-8")) finally out.close()
    val dst = new Path(root, name)
    f.delete(dst, false) // idempotent re-publish (wave re-run)
    require(f.rename(tmp, dst), s"marker publish failed: $dst")
  }

  def exists(name: String): Boolean = fs.exists(new Path(root, name))

  /** Content of a marker: None iff it does not exist. A marker that
    * exists but cannot be opened or read raises — "unreadable" must
    * never pass for "absent". */
  def read(name: String): Option[String] = {
    val p = new Path(root, name)
    val f = fs
    if (!f.exists(p)) None
    else {
      val in = f.open(p)
      try Some(new String(in.readAllBytes(), "UTF-8")) finally in.close()
    }
  }

  /** Delete a marker; absent is fine, I/O errors propagate. */
  def delete(name: String): Unit = { fs.delete(new Path(root, name), false); () }
}

/** One versioned state store (seen, fence or backlog): per-wave DELTA
  * dirs plus compacted BASE runs, with one commit protocol. This is the
  * single seam an Iceberg snapshot commit would replace.
  *
  * Layout: base run B lives in `<base>/upto=B` and exists for readers
  * only once marker `<prefix>B.json` is published; delta `w` lives in
  * `<deltaRoot>/wave=w[/<sub>]`. Run B holds every delta ≤ B.
  *
  * Commit (`commit`): sweep base dirs that have no marker (a crash
  * before an earlier publish) → write the new base → publish ONE marker
  * → GC. The marker is the single commit point. It CLAIMS the runs the
  * new base folded (`"folded":[..]`), transitively: the claim includes
  * every still-present run those runs had claimed, so deleting a folded
  * run can never un-claim an older one. A marker without the field (all
  * markers written before claims existed) claims every lower run.
  *
  * Read: live runs = published runs minus every claimed run; the read
  * set is the live runs plus the deltas newer than the newest live run.
  * A crash anywhere in the protocol therefore leaves only unread
  * garbage, never a duplicate or a dangling reference.
  *
  * Heal (`heal`): deletes claimed runs (dir, then marker, oldest first)
  * and deltas folded into a live run — the GC an interrupted commit did
  * not finish. Runs once per instance before the first read and at the
  * start of every compaction. A failed delete is counted in
  * `gcFailures` and retried by the next heal.
  *
  * Listings (markers, delta waves) are memoized: delta dirs are
  * immutable once written and only this instance writes or compacts
  * them (single-writer crawl). The writer reports each new delta with
  * `addDelta`. Every real list/exists call of these listings bumps
  * `listOps`. */
final class StateStore(spark: SparkSession, markers: Markers, ckDir: String,
                       base: String, prefix: String,
                       deltaRoot: String, sub: Option[String], listOps: AtomicLong) {

  /** GC deletes that failed (retried by the next heal). */
  val gcFailures = new AtomicLong

  private val MarkerRe = (java.util.regex.Pattern.quote(prefix) + "(\\d+)\\.json").r
  private val FoldedRe = """"folded"\s*:\s*\[([0-9,\s]*)\]""".r
  private val UptoRe = """"upto"\s*:\s*(-?\d+)""".r

  private var published: Set[Int] = null
  private var deltas: Set[Int] = null
  /** Direct claims per run; None = a marker without `folded`. */
  private val claims = scala.collection.mutable.Map.empty[Int, Option[Set[Int]]]
  private var healed = false

  private def conf = spark.sessionState.newHadoopConf()
  private def markerName(run: Int): String = s"$prefix$run.json"
  def baseDir(run: Int): String = s"$ckDir/$base/upto=$run"
  def deltaDir(wave: Int): String =
    (Seq(ckDir, deltaRoot, s"wave=$wave") ++ sub).mkString("/")

  private def runs: Set[Int] = {
    if (published == null) {
      listOps.incrementAndGet()
      published = markers.list(MarkerRe).toSet
    }
    published
  }

  private def deltaWaves: Set[Int] = {
    if (deltas == null) {
      val root = new Path(ckDir, deltaRoot)
      val fs = root.getFileSystem(conf)
      listOps.incrementAndGet()
      deltas =
        if (!fs.exists(root)) Set.empty
        else fs.listStatus(root).toSeq.flatMap { st =>
          val n = st.getPath.getName
          n.stripPrefix("wave=").toIntOption.filter(_ => n.startsWith("wave=")).filter { _ =>
            sub.forall { s => listOps.incrementAndGet(); fs.exists(new Path(st.getPath, s)) }
          }
        }.toSet
    }
    deltas
  }

  /** The runs `run`'s marker claims directly (every lower run for a
    * marker without `folded`). Cached only after a successful read. */
  private def claimsOf(run: Int): Set[Int] = {
    val direct = claims.getOrElseUpdate(run, {
      val js = markers.read(markerName(run)).getOrElse(
        throw new IllegalStateException(s"marker ${markerName(run)} vanished from $ckDir"))
      require(UptoRe.findFirstMatchIn(js).exists(_.group(1).toInt == run),
        s"unreadable state marker ${markerName(run)} in $ckDir: $js")
      if (!js.contains("\"folded\"")) None
      else FoldedRe.findFirstMatchIn(js) match {
        case Some(m) => Some(m.group(1).split(",").toSeq.map(_.trim).filter(_.nonEmpty)
          .map(_.toInt).toSet)
        case None => throw new IllegalArgumentException(
          s"unreadable folded claim in ${markerName(run)} in $ckDir: $js")
      }
    })
    direct.getOrElse(runs.filter(_ < run))
  }

  private def live: Seq[Int] = {
    val rs = runs
    val claimed = rs.flatMap(claimsOf)
    (rs -- claimed).toSeq.sorted
  }

  private def ensureHealed(): Unit = if (!healed) heal()

  /** Live (unclaimed) runs ≤ `wave`, ascending. */
  def liveRuns(wave: Int = Int.MaxValue): Seq[Int] = synchronized {
    ensureHealed(); live.filter(_ <= wave)
  }

  /** Delta waves in (newest live run ≤ `wave`, `wave`], ascending. */
  def newDeltas(wave: Int): Seq[Int] = synchronized {
    val b = liveRuns(wave).lastOption.getOrElse(-1)
    deltaWaves.filter(w => w > b && w <= wave).toSeq.sorted
  }

  /** Every dir a reader of state as of `wave` must read. */
  def readSet(wave: Int): Seq[String] = synchronized {
    liveRuns(wave).map(baseDir) ++ newDeltas(wave).map(deltaDir)
  }

  /** Record a delta this instance just wrote. */
  def addDelta(wave: Int): Unit = synchronized {
    if (deltas != null) deltas += wave
  }

  /** Start of a compaction to `upTo`: heal, then tell whether there is
    * anything to fold (no live run covers `upTo` and there are newer
    * deltas or more than one live run). */
  def needsFold(upTo: Int): Boolean = synchronized {
    heal()
    val rs = live
    !rs.lastOption.exists(_ >= upTo) &&
      (rs.size > 1 || newDeltas(upTo).nonEmpty)
  }

  /** Publish base `upTo`, written by `write(dir)`, folding runs `folded`
    * (plus all deltas ≤ `upTo`). See the class doc for the protocol. */
  def commit(upTo: Int, folded: Seq[Int])(write: String => Unit): Unit = synchronized {
    sweepOrphans()
    write(baseDir(upTo))
    var claim = Set.empty[Int]
    var next = folded.toSet
    while (next.nonEmpty) {
      claim ++= next
      next = next.flatMap(claimsOf).filter(runs) -- claim
    }
    markers.publish(markerName(upTo),
      s"""{"upto":$upTo,"folded":[${claim.toSeq.sorted.mkString(",")}]}""")
    published = runs + upTo
    claims(upTo) = Some(claim)
    heal()
  }

  /** Finish an interrupted GC (see the class doc). */
  def heal(): Unit = synchronized {
    val rs = live
    val claimed = (runs -- rs).toSeq.sorted
    // oldest first, stopping at the first failure: a run is deleted only
    // after every run it claims is gone, so no claim is ever orphaned
    claimed.iterator.takeWhile { r =>
      gc(deleteDir(baseDir(r))) && gc { markers.delete(markerName(r)); true }
    }.foreach { r => published -= r; claims -= r }
    val newest = rs.lastOption.getOrElse(-1)
    deltaWaves.filter(_ <= newest).foreach { w =>
      if (gc(deleteDir(deltaDir(w)))) deltas -= w
    }
    healed = true
  }

  /** Delete base dirs that have no published marker. */
  private def sweepOrphans(): Unit = {
    val root = new Path(ckDir, base)
    val fs = root.getFileSystem(conf)
    listOps.incrementAndGet()
    if (fs.exists(root))
      fs.listStatus(root).foreach { st =>
        st.getPath.getName.stripPrefix("upto=").toIntOption.foreach { u =>
          if (!runs.contains(u)) gc(deleteDir(st.getPath.toString))
        }
      }
  }

  private def deleteDir(d: String): Boolean = {
    val p = new Path(d)
    val fs = p.getFileSystem(conf)
    fs.delete(p, true) || !fs.exists(p)
  }

  /** Run one GC delete; a failure is counted, not dropped. */
  private def gc(delete: => Boolean): Boolean = {
    val ok = try delete catch { case _: java.io.IOException => false }
    if (!ok) gcFailures.incrementAndGet()
    ok
  }
}
