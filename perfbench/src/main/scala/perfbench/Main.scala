package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path, Paths}
import org.apache.spark.sql.SparkSession

/** One benchmark run in one JVM:
  *
  *   perfbench.Main --workload W --seed N --seconds S --trace 0|1 --cores C
  *
  * Order: generate inputs (gen_s), set up (session + warm-up units on the
  * small input), run units of the workload until S seconds of unit time
  * have passed, check the last unit's output and the checker's own
  * self-test, and print the result as the last stdout line.
  *
  * Set-up is done twice. The first one counts from JVM start, minus
  * gen_s; the second stops the session and sets up again in the same
  * JVM. setup_s is the median of the two, so a slower cold start moves
  * it by half; traced runs report the cold set-up as bench.setup_cold_s.
  *
  * Unit time is the time of the unit's program calls (its "unit" span),
  * without the benchmark's own bookkeeping around them. With --trace 1
  * units alternate between traced and untraced, starting traced, and at
  * least one of each runs; the traced ones give the per-layer metrics,
  * and the untraced ones of the same run the tracing overhead. All files
  * live under `.bench_build/` of the working directory. */
object Main {
  /** No unit starts after this much process time once the run has the
    * units it needs, so a run ends well within its 180 s limit. */
  private val LastStartS = 110.0

  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val work = Workloads.all.find(_.name == opts("workload")).getOrElse(
      sys.error(s"unknown workload ${opts("workload")}; one of ${Workloads.all.map(_.name).mkString(", ")}"))
    val seed = opts("seed").toLong
    val seconds = opts("seconds").toDouble
    val trace = opts.get("trace").contains("1")
    val cores = opts("cores").toInt
    val home = Paths.get(".bench_build").toAbsolutePath
    val run = home.resolve(s"run/${work.name}-${ProcessHandle.current().pid()}")
    // outputs of runs that were killed before cleaning up after themselves
    for (d <- Util.dirs(home.resolve("run"))
         if d.getFileName.toString.split("-").last.toLongOption.forall(p => !ProcessHandle.of(p).isPresent))
      Util.deleteTree(d)
    Files.createDirectories(run)

    val tGen = System.nanoTime()
    val big = work.prepare(home.resolve("cache"), seed, small = false)
    val small = work.prepare(home.resolve("cache"), seed, small = true)
    val genS = Util.secondsSince(tGen)

    // set-up: session + warm-up units; the first one counts from JVM start
    var spark: SparkSession = null
    val setups = (0 until 2).map { k =>
      val t0 = System.nanoTime()
      if (spark != null) spark.stop()
      spark = graft.GraftSession.create(s"local[$cores]")
      for (i <- 0 until work.warmupUnits) {
        val out = run.resolve(s"warmup-$k-$i")
        work.run(spark, new Tracer(spark.sparkContext, listen = false), small, out)
        Util.deleteTree(out)
      }
      if (k == 0) (System.currentTimeMillis() - ManagementFactory.getRuntimeMXBean.getStartTime) / 1e3 - genS
      else Util.secondsSince(t0)
    }
    val procStart = ManagementFactory.getRuntimeMXBean.getStartTime
    def processSeconds = (System.currentTimeMillis() - procStart) / 1e3

    // timed phase; `wall` also counts the bookkeeping around a unit's calls
    final case class Done(r: UnitResult, wall: Double, tracer: Tracer, out: Path)
    val done = scala.collection.mutable.ArrayBuffer.empty[Done]
    def unitSeconds = done.map(_.r.seconds).sum
    def needed = done.isEmpty || (trace && done.forall(_.tracer.listen))
    while (needed || (unitSeconds < seconds && processSeconds + done.map(_.wall).max < LastStartS)) {
      done.lastOption.foreach(d => Util.deleteTree(d.out))
      spark.catalog.clearCache()
      val out = run.resolve(s"unit-${done.size}")
      // traced runs start with a traced unit, then alternate
      val tracer = new Tracer(spark.sparkContext, listen = trace && done.size % 2 == 0)
      val t0 = System.nanoTime()
      val r = work.run(spark, tracer, big, out)
      val wall = Util.secondsSince(t0)
      tracer.finish()
      done += Done(r, wall, tracer, out)
    }

    val last = done.last
    val checked = work.check(spark, big, last.out, last.r, home.resolve("state"))
    val attempted = done.map(_.r.units).sum
    val failed = if (checked.problems.isEmpty) 0L else attempted
    checked.problems.foreach(p => println(s"CHECK FAILED: $p"))
    println(f"gen_s ${genS}%.3f (not in setup_s); setups ${setups.map(s => f"$s%.3f").mkString(" ")}; " +
      s"units ${done.map(d => f"${d.r.seconds}%.3f").mkString(" ")}; " +
      s"calls ${done.flatMap(_.r.calls).map(c => f"$c%.3f").mkString(" ")}; " +
      s"checks ${if (checked.problems.isEmpty) "passed" else "FAILED"}")

    val metrics: Seq[(String, Double, String)] =
      if (!trace) {
        val calls = done.flatMap(_.r.calls)
        Seq(
          ("setup_s", Util.median(setups), "s"),
          ("units_per_s", attempted / unitSeconds, "1/s"),
          ("call_p50_s", Util.median(calls), "s"),
          ("bytes_out_mb", last.r.outBytes / 1e6, "MB"),
          ("success_rate", (attempted - failed).toDouble / attempted, "ratio"))
      } else Layers.metrics(work, cores, done.map(d => (d.r, d.tracer)).toSeq, big, checked, genS,
        setups.head, home.resolve(s"trace/${work.name}"))

    for ((k, v, u) <- metrics) println(f"$k%-28s ${Util.jsonNumber(v)}%16s $u")
    spark.stop()
    Util.deleteTree(run)
    val m = metrics.map { case (k, v, u) =>
      s"${Util.jsonString(k)}:{\"value\":${Util.jsonNumber(v)},\"unit\":${Util.jsonString(u)}}"
    }.mkString("{", ",", "}")
    println(s"""{"correct":${checked.problems.isEmpty},"attempted":$attempted,"failed":$failed,"metrics":$m}""")
    System.out.flush()
    sys.exit(0) // pool threads of the engine must not keep the JVM alive
  }
}
