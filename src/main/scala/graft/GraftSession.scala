package graft

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator

/** Session factory with the engine's standard configuration. Local mode
  * mirrors the cluster layout: shuffle partitions sized to cores (not
  * 200), AQE on for runtime skew handling. The engine's SQL function
  * names come from `spark.sql.extensions` (`GraftExtensions`); nothing
  * is registered after the session is built. */
object GraftSession {
  /** Entries in Spark's JVM-wide LRU cache of compiled generated classes
    * (`spark.sql.codegen.cache.maxEntries`, default 100). A frontier
    * wave compiles ~180-270 classes, so under the default each wave
    * evicts the classes the next one needs and recompiles its whole plan
    * set with Janino (~2.2-3.2 s a wave on 4 cores), though the code is
    * the same from wave to wave. Measured working set under a very large
    * cache: the frozen `graft.Bench` at sf0.01, the largest one-JVM run,
    * compiles 826 classes. Sizing rule: count the CodeGenerator
    * logger's `Code generated in` lines (INFO) over that Bench run and
    * round up to a power of two.
    * Spark keys the cache by class loader as well as by code, so a class
    * compiled on both the driver and a task thread takes two entries.
    * A static conf: it must be on the builder before the first query. */
  val CodegenCacheEntries: Int = 1024

  /** Hadoop `file://` file system class of every session
    * (`fs.file.impl`). Without libhadoop (Hadoop's `NativeCodeLoader`
    * WARN), Hadoop's local file system forks a `chmod` process on every
    * file create and mkdir: parquet part files and their `.crc` files,
    * committer `_temporary` dirs, `_SUCCESS`, markers, manifests, seen
    * levels and the CDX output. A 30k-seed crawl (init + 4 waves)
    * forked about 1,080 of them, most on task threads.
    * `NioLocalFileSystem` sets the same mode bits in-process. Hadoop
    * caches one file system per scheme and user JVM-wide, so a `file://`
    * file system created before the first session keeps its class. */
  val LocalFileSystemImpl: String = classOf[NioLocalFileSystem].getName

  /** JVM-wide codegen counters at this instant: (classes compiled, total
    * compile ns) since the JVM started. Reading them runs no Spark job. */
  def codegen: (Long, Long) =
    (CodegenMetrics.METRIC_COMPILATION_TIME.getCount, CodeGenerator.compileTime)

  def create(master: String = s"local[${sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")}]",
             shufflePartitions: Int = -1,
             extraConf: Map[String, String] = Map.empty,
             /** Bench/scaling loops opt into the v2 file committer
               * (task-side renames, no _SUCCESS): it removes a
               * driver-serial O(files) commit per write job, but v2 can
               * leave partial output when a task dies mid-rename — fine
               * for throwaway bench scratch, NOT a default any
               * production entry point should inherit. */
             benchMode: Boolean = sys.env.get("GRAFT_BENCH").contains("1")): SparkSession = {
    val cores = "local\\[(\\d+)\\]".r.findFirstMatchIn(master).map(_.group(1).toInt)
      .orElse("local-cluster\\[(\\d+),(\\d+),\\d+\\]".r.findFirstMatchIn(master)
        .map(m => m.group(1).toInt * m.group(2).toInt))
      .getOrElse(32)
    val sp = if (shufflePartitions > 0) shufflePartitions else cores
    val builder0 = SparkSession.builder()
      .master(master)
      .appName("graft-warc-engine")
    val spark = extraConf.foldLeft(builder0) { case (b, (k, v)) => b.config(k, v) }
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .config("spark.sql.shuffle.partitions", sp.toString)
      .config("spark.sql.adaptive.enabled",
        (!sys.env.get("GRAFT_AQE").contains("0")).toString)
      .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
      .config("spark.sql.adaptive.skewJoin.enabled", "true")
      // split files at 16 MB locally (vs the 128 MB cluster default):
      // checkpoint read-backs here are 10s-100s of MB, and a single
      // 128 MB split would serialize the map side of every downstream
      // stage onto one task no matter how many cores the session has.
      // On a cluster the same inputs span many HDFS/S3 blocks natively.
      .config("spark.sql.files.maxPartitionBytes", "16m")
      // list medium dirs on the driver: the default threshold (32
      // paths) turns every read of a 33+-file state dir into a
      // distributed listing JOB — pure overhead for local/hdfs metadata
      .config("spark.sql.sources.parallelPartitionDiscovery.threshold", "1024")
      // bench-only: commit renames inside tasks (v2), not serially on
      // the driver after every write job — the checkpoint-per-wave
      // layout writes often, and a driver-side O(files) commit is a
      // fixed cost that would cap strong scaling no matter the
      // executor count. Gated because v2 risks partial output on
      // mid-commit task failure (see `benchMode`).
      .config("spark.hadoop.mapreduce.fileoutputcommitter.algorithm.version",
        if (benchMode) "2" else "1")
      .config("spark.hadoop.mapreduce.fileoutputcommitter.marksuccessfuljobs",
        (!benchMode).toString)
      .config("spark.sql.codegen.cache.maxEntries", CodegenCacheEntries.toString)
      .config("spark.hadoop.fs.file.impl", LocalFileSystemImpl)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      // NOTE: spark.driver.memory cannot be set here — in local mode the
      // JVM is already running; the heap comes from build.sbt's fork
      // javaOptions (-Xmx) or spark-submit --driver-memory on a cluster.
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
