package perfbench

import java.nio.file.{Files, Path}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.col
import graft.frontier.{Frontier, FrontierConfig}
import graft.operators.CdxPipeline

/** What one unit of a workload did. `units` are the items the
  * throughput counts; `seconds` the time of the unit's program calls
  * (its "unit" span); `calls` the durations of the repeated public call
  * (waves for the crawl, the whole unit otherwise). */
final case class UnitResult(units: Long, seconds: Double, calls: Seq[Double], outBytes: Long,
                            info: Map[String, Double] = Map.empty)

/** Result of checking a unit's output: problems (empty = correct), and
  * layer metrics that only the check can compute. */
final case class CheckResult(problems: Vector[String], layers: Map[String, Double] = Map.empty)

trait Workload {
  def name: String
  /** Generates (or reuses) the input for `seed`; `small` is the warm-up input. */
  def prepare(cache: Path, seed: Long, small: Boolean): Path
  /** Units run on the small input in each set-up. */
  def warmupUnits: Int = 1
  /** Runs one unit on input `in`, writing its output under `out`. Every
    * call into the program is wrapped in a span of `t`. */
  def run(spark: SparkSession, t: Tracer, in: Path, out: Path): UnitResult
  def check(spark: SparkSession, in: Path, out: Path, r: UnitResult, state: Path): CheckResult
  /** Kernel µs metrics and the kernel seconds one unit spends in them. */
  def kernels(in: Path, r: UnitResult): (Map[String, Double], Double)
  /** Layer metrics read off one traced unit's spans. */
  def layers(t: Tracer, r: UnitResult): Map[String, Double]

  protected def spans(t: Tracer, name: String): Seq[Span] = t.spans.toSeq.filter(_.name == name)
}

object Workloads {
  val all: Seq[Workload] = Seq(CdxIndex, FrontierCrawl)

  private def warcFiles(in: Path): Seq[Path] =
    Util.files(in).filter(_.getFileName.toString.endsWith(".warc.gz"))

  private def selfTest(name: String, problems: Vector[String]): Vector[String] =
    if (problems.isEmpty) Vector(s"selftest: the checker accepted $name") else Vector.empty

  // ------------------------------------------------------------------

  /** Many small per-record-gzip files through the `cdx-index` path,
    * globally sorted into one CDXJ file. */
  object CdxIndex extends Workload {
    val name = "cdx_index"
    private val FileCount = 160
    private val Captures = 20
    // without more warm-up the first timed units run up to 40 % slower
    // than the later ones, while the JIT still compiles the scan path
    override val warmupUnits = 3
    private val DigestKey = "\"digest\":\""
    /** Input records per corpus, counted once when it is prepared. */
    private val records = scala.collection.concurrent.TrieMap.empty[Path, Long]

    def prepare(cache: Path, seed: Long, small: Boolean): Path = {
      val (f, c) = if (small) (FileCount, 10) else (FileCount, Captures)
      val dir = Corpus.ensure(cache, "cdx", seed, f * 1000 + c)(d => Corpus.writeWarcs(d, seed, f, c))
      records(dir) = Corpus.readManifest(dir).size
      dir
    }

    def run(spark: SparkSession, t: Tracer, in: Path, out: Path): UnitResult = {
      val (_, unit) = t.span("unit") {
        val (lines, _) = t.span("CdxPipeline.cdxLines") {
          CdxPipeline.cdxLines(spark, Seq(in.resolve("*.warc.gz").toString), format = "cdxj")
        }
        t.span("cdx.sort_write") {
          lines.orderBy(col("value")).coalesce(1).write.text(out.toString)
        }
      }
      UnitResult(records(in), unit.seconds, Seq(unit.seconds), Util.bytes(out))
    }

    def check(spark: SparkSession, in: Path, out: Path, r: UnitResult, state: Path): CheckResult = {
      val parts = Util.files(out).filter(_.getFileName.toString.startsWith("part-"))
      val manifest = Corpus.readManifest(in)
      if (parts.size != 1) return CheckResult(Vector(s"cdx: ${parts.size} output files, expected 1"))
      val lines = Checks.readText(parts.head)
      val problems = Checks.checkCdx(lines, manifest)
      // the first line that carries a digest, with one digest character changed
      val i = lines.indexWhere(_.contains(DigestKey))
      val flippedDigest = if (i < 0) Vector.empty else {
        val at = lines(i).indexOf(DigestKey) + DigestKey.length
        val flipped = lines(i).patch(at, if (lines(i).charAt(at) == 'A') "B" else "A", 1)
        selfTest("a flipped digest", Checks.checkCdx(lines.updated(i, flipped), manifest))
      }
      CheckResult(problems ++ flippedDigest ++
        selfTest("a dropped CDX line", Checks.checkCdx(lines.patch(lines.size / 2, Nil, 1), manifest)))
    }

    def kernels(in: Path, r: UnitResult): (Map[String, Double], Double) = {
      val all = warcFiles(in)
      val k = Kernels.warc(all.take(16))
      val perRecord = k("core.parse_us") + k("core.pair_us") +
        (k("core.cdx_row_us") + k("core.cdxj_us")) * k("sample.rows") / k("sample.records")
      (k, perRecord * r.units / 1e6)
    }

    def layers(t: Tracer, r: UnitResult): Map[String, Double] = {
      val c = spans(t, "cdx.sort_write").map(t.total)
      Layers.scan(t) + ("operators.cdx_sort_s" -> c.map(_.shuffleStageBusyMs).sum / 1e3)
    }
  }

  // ------------------------------------------------------------------

  /** Seeds through `Frontier.initialize`, then `Waves` waves with default
    * `FrontierConfig`; with the defaults (`headMult = 4`) the first
    * backlog refill runs in wave 4. Traced units list the checkpoint
    * after every call. */
  object FrontierCrawl extends Workload {
    val name = "frontier_crawl"
    private val Seeds = 30000
    private val Hosts = 1200
    private val Waves = 4
    private val Defaults = FrontierConfig(checkpointDir = "")

    def prepare(cache: Path, seed: Long, small: Boolean): Path = {
      val (n, h) = if (small) (300, 30) else (Seeds, Hosts)
      Corpus.ensure(cache, "seeds", seed, n)(d => Corpus.writeSeeds(d, seed, n, h))
    }

    /** The warm-up crawl on the small seed list runs one wave. */
    private def waves(in: Path): Int = if (in.getFileName.toString.endsWith(s"-n$Seeds")) Waves else 1

    def run(spark: SparkSession, t: Tracer, in: Path, out: Path): UnitResult = {
      val cfg = Defaults.copy(checkpointDir = out.toString)
      var ckBytes = 0L
      // traced units list the checkpoint after every call, outside the call's span
      def listed(s: Span, wave: Int): Unit = if (t.listen) {
        val b = Util.bytes(out)
        s.attrs("ck_files") = Util.files(out).size.toDouble
        s.attrs("ck_mb_delta") = (b - ckBytes) / 1e6
        s.attrs("refill") = if (Files.isDirectory(out.resolve(s"maint/wave=$wave/dest=head/refill"))) 1 else 0
        ckBytes = b
      }
      val (res, unit) = t.span("unit") {
        val f = new Frontier(spark, cfg)
        val seeds = spark.read.option("sep", "\t").schema("url STRING, priority INT")
          .csv(in.resolve("seeds.tsv").toString)
        val (r0, s0) = t.span("Frontier.initialize")(f.initialize(seeds))
        listed(s0, 0)
        r0 +: (1 to waves(in)).map { _ =>
          val (r, s) = t.span("Frontier.runWave")(f.runWave())
          listed(s, r.wave)
          r
        }
      }
      val ws = spans(t, "Frontier.runWave").filter(_.parent == unit.id)
      UnitResult(res.map(r => r.scheduled + r.deduped).sum, unit.seconds, ws.map(_.seconds), Util.bytes(out),
        Map("scheduled" -> res.map(_.scheduled).sum.toDouble, "deduped" -> res.map(_.deduped).sum.toDouble,
          "ck_files" -> Util.files(out).size.toDouble) ++
          res.flatMap(r => Seq(s"scheduled.${r.wave}" -> r.scheduled.toDouble,
            s"deduped.${r.wave}" -> r.deduped.toDouble)))
    }

    def check(spark: SparkSession, in: Path, out: Path, r: UnitResult, state: Path): CheckResult = {
      val n = waves(in)
      val rows = (1 to n).map { w =>
        spark.read.parquet(out.resolve(s"scheduled/wave=$w").toString).select("surt_key", "host")
          .collect().toSeq.map(x => (x.getString(0), x.getString(1)))
      }
      val reported = (1 to n).map(w => r.info(s"scheduled.$w").toLong)
      val budget = Defaults.hostBudget
      val problems = Checks.checkFrontier(rows, reported, budget)
      // per-wave counts must repeat exactly for this seed and input
      val counts = (0 to n).map(w => s"$w ${r.info(s"scheduled.$w").toLong} ${r.info(s"deduped.$w").toLong}")
      val file = state.resolve(s"frontier-counts-${in.getFileName}-w$n.txt")
      val before = Util.readLines(file)
      val drift =
        if (before.isEmpty) { Files.createDirectories(state); Util.writeLines(file, counts); Vector.empty }
        else if (before != counts) Vector(s"frontier: wave counts ${counts.mkString(";")} differ from an " +
          s"earlier run's ${before.mkString(";")}")
        else Vector.empty
      val twice = rows.updated(1, rows(1) :+ rows(0).head)
      CheckResult(problems ++ drift ++
        selfTest("a URL scheduled twice", Checks.checkFrontier(twice, reported.updated(1, reported(1) + 1), budget)))
    }

    def kernels(in: Path, r: UnitResult): (Map[String, Double], Double) = {
      val urls = Util.readLines(in.resolve("seeds.tsv")).take(20000).map(_.split("\t")(0))
      val us = Kernels.surt(urls)
      // seeds plus every discovered outlink pass through canonicalization
      val canon = urls.size.toDouble + r.info("scheduled") * Defaults.outlinksPerUrl
      (Map("core.surt_us" -> us), us * canon / 1e6)
    }

    def layers(t: Tracer, r: UnitResult): Map[String, Double] = {
      val ws = spans(t, "Frontier.runWave")
      val wc = ws.map(t.total)
      def mean(xs: Seq[Double]) = if (xs.isEmpty) 0.0 else xs.sum / xs.size
      Map(
        "frontier.init_s" -> spans(t, "Frontier.initialize").map(_.seconds).sum,
        "frontier.wave_s" -> mean(ws.map(_.seconds)),
        "frontier.wave_max_s" -> ws.map(_.seconds).max,
        "frontier.wave_jobs" -> mean(wc.map(_.jobs.toDouble)),
        "frontier.wave_driver_gap_s" -> mean(ws.map(t.driverGapSeconds)),
        "frontier.wave_shuffle_mb" -> mean(wc.map(c => (c.shuffleWrite + c.shuffleRead) / 1e6)),
        "frontier.ck_files" -> r.info("ck_files"),
        "frontier.ck_mb_delta" -> mean(ws.map(_.attrs("ck_mb_delta"))),
        "frontier.refill_waves" -> ws.map(_.attrs("refill")).sum,
        "frontier.scheduled" -> r.info("scheduled"),
        "frontier.deduped" -> r.info("deduped"))
    }
  }
}
