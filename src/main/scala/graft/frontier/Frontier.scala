package graft.frontier

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import scala.concurrent.Await
import scala.concurrent.duration.Duration
import graft.Functions

/** The crawl frontier + fetch scheduler (north rule, BASELINE.json):
  * a per-host QUEUE-HEAD scheduler over head/fence/backlog state.
  *
  * A wave is one iterative batch round:
  *   schedule: per-host top-k_eff window over the HEAD table only —
  *       O(heads), never O(pending); the same windowed frame yields
  *       the head remainder (no state-vs-schedule anti-join)
  *     → discover outlinks → canonicalize (WHATWG normalize) → SURT
  *     → in-batch dedup + seen-set subtraction fused in ONE shuffle:
  *       candidates group by shard id; each task loads its shard's LSM
  *       level files (cuckoo/bloom filter + exact 64-bit hash run)
  *       directly from storage and decides membership in-task — no
  *       anti-join against the seen store, no shard state in the
  *       shuffle, no filter state on the driver
  *     → robots gate at INSERT (pre-parsed rule join) — pending only
  *       ever holds allowed rows; seen membership stays pre-robots
  *     → head/fence/backlog maintenance (see maintainFrontier):
  *       fresh routes by fence, spill appends a bucketed backlog
  *       delta, needy hosts refill from their buckets only
  *     → scheduled wave committed with an atomic manifest; seen +
  *       state + per-partition lineage metrics checkpointed
  *
  * Determinism: every ordering is total — (priority, surt_key) with surt
  * as the tiebreak — so the same seed list + budget reproduce the same
  * schedule and seen membership at ANY parallelism. Exactly-once resume:
  * a wave exists iff its manifest file exists; outputs are idempotent
  * overwrites, so a crash between writes re-runs the wave with identical
  * results.
  *
  * Scale notes (10^10 URLs): seen shards are hash-partitioned by
  * `pmod(hash(surt), shards)`; at 10^10 keys and 4096 shards each shard
  * holds ~2.4M fingerprints (~10 MB cuckoo) + ~20 MB of exact hash
  * runs — a task reads only the shards its candidates probe. Per-wave
  * costs: seen-subtraction shuffle O(candidates); storage read
  * O(probed shards); state writes O(fresh + heads + hosts); scheduling
  * shuffle O(heads); backlog touched only by appends and needy-bucket
  * refills. A 10^10-row pending backlog is NEVER windowed, anti-joined,
  * or rewritten by a wave — the r3 design's remaining O(pending)
  * scheduling cost is gone.
  */
final case class FrontierConfig(
    checkpointDir: String,
    hostBudget: Int = 8, // fetches per host per wave
    // salt width bounds the hottest (host, salt) window group at
    // ~hottest-host/salt rows; 32 keeps a 5%-of-wave Zipf head host
    // from serializing one reducer in the INIT top-M split (phase-2
    // input stays ≤ salt*headMult*budget rows per host)
    salt: Int = 32,
    /** per-host QUEUE-HEAD capacity multiplier: the head table targets
      * M = headMult × hostBudget rows per host, so a host needs a
      * backlog refill only every ~(headMult−1) waves. 1 = refill every
      * wave (maximum backlog traffic, still exact). */
    headMult: Int = 4,
    /** backlog host-hash buckets: refills read ONLY the buckets of
      * needy hosts (directory-level pruning). Production sizing:
      * ~total-backlog/bucket should fit a comfortable scan unit. */
    backlogBuckets: Int = 64,
    seenShards: Int = 64,
    outlinksPerUrl: Int = 3,
    hostPool: Int = 200, // synthetic outlink host universe
    seed: Long = 42L,
    agent: String = "graft", // user-agent for robots group selection
    waveWindowSec: Int = 60, // politeness window a wave's budget paces over
    /** auto-fold seen string deltas into the compacted base every K
      * committed waves (compactSeen(wave-1) post-commit), so a long
      * crawl's `seenUpTo` unions O(K) dirs instead of O(waves) with no
      * manual calls. ≤0 disables (manual compaction only). */
    compactEvery: Int = 8,
    /** bench mode: skip observability-only jobs (sorted user-facing
      * write, per-partition metrics, state count reports) — semantics
      * unchanged. Defaults from the GRAFT_BENCH env for CLI runs. */
    fastMode: Boolean = sys.env.get("GRAFT_BENCH").contains("1"),
    /** re-cut host-slice collect threshold: a wave re-cutting ≤ this
      * many hosts builds its cut predicates and fence rows on the
      * driver (one tiny collect replaces five broadcast-join driver
      * jobs); beyond it the distributed join path runs instead. ~100 B
      * per host of driver memory at the cap. */
    recutCollectMax: Int = 20000,
    /** synthetic discovery shape: "zipf" (default crawl-like skew) or
      * "adversarial" (a tiny host set emitting always-best priorities —
      * the fenced-host head-overgrowth adversary the epoch'd re-cut
      * exists for; used by tests and the parity comparator). */
    outlinkMode: String = "zipf"
)

final case class WaveResult(
    wave: Int,
    candidates: Long,
    deduped: Long,
    fresh: Long,
    allowed: Long,
    scheduled: Long,
    seenTotal: Long,
    pendingTotal: Long,
    elapsedSec: Double
)

class Frontier(spark: SparkSession, cfg: FrontierConfig,
               /** optional real robots table (host, robots_txt); when
                 * absent the deterministic synthetic rule applies */
               robots: Option[DataFrame] = None) {
  import spark.implicits._
  Functions.registerAll(spark)

  private def dir(parts: String*): String = (cfg.checkpointDir +: parts).mkString("/")

  /** Session Hadoop conf (incl. runtime `spark.hadoop.*` — object-store
    * auth etc.), broadcast once so EXECUTOR-side filesystem access
    * (level reads/writes) sees exactly what driver-side index I/O sees.
    * A bare `new Configuration()` in a task only reads classpath
    * defaults and silently drops session-supplied fs settings. */
  private lazy val taskConfB = spark.sparkContext.broadcast(
    new graft.SerializableHadoopConf(spark.sessionState.newHadoopConf()))
  /** Exposed for tests asserting the executor-visible conf contents. */
  private[frontier] def taskHadoopConfBroadcast = taskConfB

  /** Per-instance count of real FileSystem list/exists calls issued by
    * the memoized listings (the state stores' marker and delta listings
    * and the backlog `bkb=` child listings) — a steady wave must issue
    * O(changed dirs), not O(all delta dirs × buckets). */
  private[frontier] val fsListOps = new java.util.concurrent.atomic.AtomicLong

  /** Thread-local job description — makes GRAFT_JOBLOG attribution
    * exact (broadcast-build jobs otherwise report opaque call sites). */
  private def jd(label: String): Unit =
    spark.sparkContext.setJobDescription(label)

  private val markers = new Markers(spark, cfg.checkpointDir)

  // The three versioned state stores (protocol: see StateStore).
  private[frontier] val seenStore = new StateStore(spark, markers, cfg.checkpointDir,
    "seen_base", "SEEN_BASE-", "seen", None, fsListOps)
  private[frontier] val fenceStore = new StateStore(spark, markers, cfg.checkpointDir,
    "fence_base", "FENCE_BASE-", "fence_delta", None, fsListOps)
  private[frontier] val backlogStore = new StateStore(spark, markers, cfg.checkpointDir,
    "backlog_base", "BACKLOG_BASE-", "maint", Some("dest=spill"), fsListOps)

  /** Memoized `bkb=` child listings of backlog dirs (immutable once
    * written; the writer invalidates the one dir it rewrites). */
  private val bucketDirCache =
    new java.util.concurrent.ConcurrentHashMap[String, Seq[(Int, String)]]()

  // ----------------------------------------------------------------
  // URL canonicalization + keys
  // ----------------------------------------------------------------

  /** url → (surt_key, canonical_url, host); unparseable URLs dropped.
    * Single fused UDF (one parse, one string-conversion boundary). */
  private def canonicalized(urls: DataFrame): DataFrame =
    urls
      .withColumn("c", call_udf("canon_all", col("url")))
      .withColumn("canonical_url", col("c._1"))
      .withColumn("surt_key", col("c._2"))
      .withColumn("host", col("c._3"))
      .drop("c")
      .filter(col("host").isNotNull && col("surt_key").isNotNull)

  // ----------------------------------------------------------------
  // Seen-set shards — LSM level FILES + a tiny per-wave index
  // ----------------------------------------------------------------
  // Shard state = an ordered list of immutable LEVEL files (each a
  // cuckoo/bloom filter + the exact sorted hash run it was built
  // from, `SeenFilter.buildLevel`), living under
  // `shards/wave=<created>/s<shard>-n<count>.lvl`. The task that
  // probes or updates shard s reads its level files DIRECTLY from
  // storage — shard state never rides a shuffle (r2's cogroup
  // exchanged ~10 B/key of shard blobs per wave; at 10^10 keys that is
  // ~100 GB of shuffle a wave no longer pays). Per-wave maintenance
  // writes ONE new level per touched shard — O(batch) bytes, amortized
  // O(log) via the logarithmic merge — and reads only the levels being
  // merged, so state write amplification is O(fresh), never O(seen).
  // A per-wave INDEX file lists each shard's level paths; levels
  // dropped by a committed wave are pruned with a one-wave lag.

  private def indexFilePath(wave: Int): org.apache.hadoop.fs.Path =
    new org.apache.hadoop.fs.Path(cfg.checkpointDir, s"shards/wave=$wave/INDEX.txt")

  /** shard id → ordered level paths (relative to `shards/`). When the
    * canonical file is missing but a fully-written `.reshard` sibling
    * exists, the reshard swap crashed between delete and rename — the
    * sibling IS the committed new index (see reshardSeen's protocol). */
  private def readIndex(wave: Int): Map[Int, Seq[String]] = {
    val p0 = indexFilePath(wave)
    val f = p0.getFileSystem(spark.sessionState.newHadoopConf())
    val p =
      if (f.exists(p0)) p0
      else {
        val alt = new org.apache.hadoop.fs.Path(p0.getParent, p0.getName + ".reshard")
        if (f.exists(alt)) alt else return Map.empty
      }
    val in = new java.io.BufferedReader(new java.io.InputStreamReader(f.open(p), "UTF-8"))
    try {
      val n = in.readLine().trim.toInt
      require(n == cfg.seenShards,
        s"checkpoint has $n seen shards but config says ${cfg.seenShards}")
      Iterator.continually(in.readLine()).takeWhile(_ != null)
        .filter(_.nonEmpty)
        .map { l =>
          val a = l.trim.split(" ")
          a(0).toInt -> a.drop(1).toSeq
        }
        .toMap
    } finally in.close()
  }

  private def writeIndex(wave: Int, idx: Map[Int, Seq[String]]): Unit = {
    val p = indexFilePath(wave)
    val f = p.getFileSystem(spark.sessionState.newHadoopConf())
    val sb = new StringBuilder
    sb.append(cfg.seenShards).append('\n')
    idx.foreach { case (s, paths) =>
      sb.append(s)
      paths.foreach(pp => sb.append(' ').append(pp))
      sb.append('\n')
    }
    val out = f.create(p, true)
    try out.write(sb.toString.getBytes("UTF-8")) finally out.close()
  }

  /** Insert this wave's fresh keys into their shards: one shuffle of
    * the KEYS (grouped by shard id); each group's task decides the
    * logarithmic merge from level COUNTS (encoded in the filenames —
    * no reads needed to decide), loads ONLY the levels being merged,
    * and writes one new level file under `wave` (deterministic name +
    * content — task retries and wave re-runs converge on identical
    * files; the manifest gates visibility). Returns each touched
    * shard's new level-path list (≤ seenShards small rows to the
    * driver — accounting, not state). */
  private def updateShardFiles(prevIdx: Map[Int, Seq[String]], newKeys: DataFrame,
                               wave: Int): Map[Int, Seq[String]] = {
    val n = cfg.seenShards
    val ckDir = cfg.checkpointDir
    val prevIdxB = spark.sparkContext.broadcast(prevIdx)
    val confB = taskConfB
    import spark.implicits._
    newKeys.select(col("surt_key")).as[String]
      .groupByKey(k => java.lang.Math.floorMod(SeenFilter.hashKey(k), n.toLong).toInt)
      .flatMapGroups { (shard, keys) =>
        val prevPaths = prevIdxB.value.getOrElse(shard, Nil)
        val counts = prevPaths.map(Frontier.levelCountFromPath)
        val batch = keys.map(SeenFilter.hashKey).toArray
        val k = SeenFilter.levelsToMerge(counts, batch.length)
        val (retained, merged) = prevPaths.splitAt(prevPaths.length - k)
        // oldest-first merge keeps accumulation sorted
        val mergedRuns = merged.map(pp => Frontier.loadLevel(ckDir, pp, confB.value.value).hashes)
        val run = SeenFilter.mergeIntoRun(batch, mergedRuns.reverse)
        val rel = Frontier.storeLevel(ckDir, wave, shard, SeenFilter.buildLevel(run),
          run.length, confB.value.value)
        Iterator.single((shard, retained :+ rel))
      }.collect().toMap
  }

  /** GC level files with a ONE-WAVE LAG, SELF-HEALINGLY: at commit of
    * wave N, enumerate every on-disk `.lvl` file and delete the ones
    * referenced by NEITHER index(N) nor index(N-1) (a level dropped
    * from an index can never reappear in a later one). The lag keeps a
    * re-run of wave N (after an uncommitted crash OR a hand-deleted
    * manifest) fully resolvable from index(N-1). Diffing the DISK
    * against the live set — not index(N-2) against index(N-1) — means
    * a crash between commit(N) and the prune leaks nothing
    * permanently: the next committed wave's prune reclaims whatever
    * the missed one would have. Cost: one recursive listing of
    * `shards/` (O(shards·log(levels)) entries) + O(dead) deletes —
    * cheap next to the wave's own I/O. Index files older than N-1 are
    * unreachable from any resume path and are swept the same way. */
  private def pruneSupersededShardFiles(wave: Int): Unit = {
    if (wave < 2) return
    val live: Set[String] =
      (readIndex(wave).values.flatten ++ readIndex(wave - 1).values.flatten).toSet
    val root = new org.apache.hadoop.fs.Path(cfg.checkpointDir, "shards")
    val fs = root.getFileSystem(spark.sessionState.newHadoopConf())
    if (!fs.exists(root)) return
    val waveDirRe = "wave=(\\d+)".r
    fs.listStatus(root).foreach { d =>
      d.getPath.getName match {
        case waveDirRe(w) =>
          val dirWave = w.toInt
          val left = fs.listStatus(d.getPath).count { f =>
            val name = f.getPath.getName
            val dead =
              if (name.endsWith(".lvl")) !live.contains(s"wave=$dirWave/$name")
              else if (name == "INDEX.txt" || name == "INDEX.txt.reshard")
                dirWave < wave - 1
              else false
            !(dead && pruneDelete(fs, f.getPath, recursive = false))
          }
          // the wave dir goes once its listing shows nothing left
          if (left == 0) pruneDelete(fs, d.getPath, recursive = false)
        case _ =>
      }
    }
  }

  /** Failed deletes of the per-wave prunes (`pruneSupersededShardFiles`,
    * `pruneFrontierState`), counted instead of dropped; both prunes diff
    * the disk, so the next committed wave retries them. */
  private[frontier] val pruneFailures = new java.util.concurrent.atomic.AtomicLong

  /** One prune delete: true iff `p` is gone afterwards. */
  private def pruneDelete(fs: org.apache.hadoop.fs.FileSystem, p: org.apache.hadoop.fs.Path,
                          recursive: Boolean): Boolean = {
    val ok = try fs.delete(p, recursive) || !fs.exists(p)
      catch { case _: java.io.IOException => false }
    if (!ok) pruneFailures.incrementAndGet()
    ok
  }

  /** Seen membership as of `wave`: the seen store's read set. Seen
    * state is stored as deltas — each wave persists ONLY its fresh keys
    * — so per-wave seen maintenance writes O(fresh), not O(total seen)
    * (at 10^10 URLs a full rewrite would move ~1 TB of key strings
    * every wave). */
  private def seenUpTo(wave: Int): DataFrame = {
    import org.apache.spark.sql.types.{StructType, StructField, StringType}
    val schema = StructType(Seq(StructField("surt_key", StringType)))
    val paths = seenStore.readSet(wave)
    if (paths.isEmpty)
      spark.createDataFrame(spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], schema)
    else spark.read.schema(schema).parquet(paths: _*).select("surt_key")
  }

  /** Fold seen deltas ≤ `upTo` (which must be committed) and every live
    * base into one new base. Run every K waves so `seenUpTo` unions
    * O(K) dirs instead of O(waves) — a 10^4-wave crawl otherwise pays
    * 10^4-dir listing+planning per observability read. */
  def compactSeen(upTo: Int): Unit = {
    require(upTo <= latestCommittedWave(), s"wave $upTo not committed yet")
    if (seenStore.needsFold(upTo))
      seenStore.commit(upTo, seenStore.liveRuns())(
        seenUpTo(upTo).write.mode("overwrite").parquet(_))
  }

  /** OFFLINE seen-shard RESHARD — lets a crawl that outgrew its
    * initial `seenShards` grow (e.g. 64 → 4096) without rebuilding the
    * hash state from the string deltas. Distributed: each OLD shard's
    * task loads its level files and re-emits every 64-bit hash keyed
    * by the NEW shard function (shard = floorMod(hash, newShards) — a
    * pure function of the hash, so membership is preserved exactly);
    * each NEW shard's task sorts its slice and builds ONE fresh level.
    * One O(seen) shuffle of raw hashes, run between waves.
    *
    * Commit protocol (the index swap IS the commit): (1) write the new
    * index — NEW shard-count header — as `INDEX.txt.reshard`, fully;
    * (2) delete `INDEX.txt`; (3) rename the sibling into place.
    * Crash before (2): old index authoritative, new levels are
    * orphans the self-healing prune reclaims. Crash between (2) and
    * (3): readIndex falls back to the fully-written sibling — the new
    * index is authoritative. Afterwards, resume with a Frontier
    * configured with the new `seenShards`; the checkpoint/config
    * mismatch check passes against the new header and fails loudly
    * for stale-config instances. */
  def reshardSeen(newShards: Int): Unit = {
    require(newShards > 0, s"bad shard count $newShards")
    val wave = latestCommittedWave()
    require(wave >= 0, "frontier not initialized")
    if (newShards == cfg.seenShards) return
    val idx = readIndex(wave)
    val ckDir = cfg.checkpointDir
    val confB = taskConfB
    import spark.implicits._
    val oldShards: Seq[(Int, Seq[String])] = idx.toSeq
    val newIdx: Map[Int, Seq[String]] = spark
      .createDataset(oldShards)
      .repartition(math.max(1,
        math.min(oldShards.size, spark.sparkContext.defaultParallelism)))
      .flatMap { case (_, paths) =>
        paths.iterator
          .flatMap(rel => Frontier.loadLevel(ckDir, rel, confB.value.value).hashes.iterator)
          .map(h => (java.lang.Math.floorMod(h, newShards.toLong).toInt, h))
      }
      .groupByKey(_._1)
      .mapGroups { (shard, it) =>
        val hashes = it.map(_._2).toArray
        java.util.Arrays.sort(hashes)
        // one shard's levels hold disjoint hash sets, but hashes from
        // DIFFERENT old shards can only collide if equal — dedupe
        var n = 0
        var i = 0
        while (i < hashes.length) {
          if (n == 0 || hashes(n - 1) != hashes(i)) { hashes(n) = hashes(i); n += 1 }
          i += 1
        }
        val run = java.util.Arrays.copyOf(hashes, n)
        val rel = Frontier.storeLevel(ckDir, wave, shard, SeenFilter.buildLevel(run),
          run.length, confB.value.value, prefix = s"m$newShards-s")
        (shard, rel)
      }
      .collect()
      .map { case (s, rel) => (s, Seq(rel)) }
      .toMap
    // atomic-enough index swap (see scaladoc). NOTE: through the
    // CHECKSUM fs, like writeIndex — the raw fs would strand the old
    // `.INDEX.txt.crc` sidecar and every later checksummed read of the
    // swapped index would fail; ChecksumFileSystem renames/deletes the
    // sidecar together with the file.
    val p = indexFilePath(wave)
    val fs = p.getFileSystem(spark.sessionState.newHadoopConf())
    val sb = new StringBuilder
    sb.append(newShards).append('\n')
    newIdx.foreach { case (s, paths) =>
      sb.append(s); paths.foreach(pp => sb.append(' ').append(pp)); sb.append('\n')
    }
    val alt = new org.apache.hadoop.fs.Path(p.getParent, p.getName + ".reshard")
    val out = fs.create(alt, true)
    try out.write(sb.toString.getBytes("UTF-8")) finally out.close()
    fs.delete(p, false)
    require(fs.rename(alt, p), s"reshard index swap failed: $p")
  }

  /** Dedup candidates in-batch AND drop already-seen ones in ONE
    * shuffle: candidates group by shard id; shard = f(surt), so every
    * duplicate of a surt lands in the same group, where a hash-map
    * fold reproduces the groupBy-min dedup (min priority / canonical /
    * host per surt — the same deterministic tie-breaks a separate
    * `groupBy(surt).agg(min…)` stage computed, whose whole extra
    * shuffle of the candidate set this fusion deletes). Each group's
    * task then loads its shard's level files directly and decides
    * membership IN-TASK: per level, the cuckoo/bloom filter
    * prefilters (O(1) per key, mostly-negative), and only filter hits
    * binary-search that level's exact hash run. No anti-join against the seen store exists — a
    * wave's seen-subtraction shuffle is O(candidates) at ANY seen-set
    * size (r2 shuffled the full 10^10-key seen store through a
    * SortMergeJoin every wave). The driver holds no filter state;
    * per-task memory is O(seen/shards) state (~30 MB/shard at 10^10
    * keys / 4096 shards) + O(distinct candidates/shard) for the dedup
    * map (wave-bounded: ~250k entries at a 10^9-candidate wave over
    * 4096 shards).
    *
    * Exactness: membership = 64-bit hash equality (see SeenFilter's
    * exact-runs note: ~5e-10 false-drop probability per candidate at
    * 10^10 seen keys, and a false drop only skips one fetch). */
  private def subtractSeen(cands: DataFrame, prevIdx: Map[Int, Seq[String]]): DataFrame = {
    val n = cfg.seenShards
    val ckDir = cfg.checkpointDir
    val idxB = spark.sparkContext.broadcast(prevIdx)
    val confB = taskConfB
    // group granularity: a multiple k of the shard count, sized so the
    // stage keeps ~2 groups per core even when seenShards < cores
    // (16-shard test configs on a 32-core session would otherwise run
    // the whole subtract on 16 tasks). floorMod(h, n·k) nests inside
    // floorMod(h, n), so every group still holds surts of exactly ONE
    // shard (group mod n) — dedup correctness and single-shard state
    // loading are preserved; a shard's state is read ≤ k times. At
    // production scale (shards ≫ cores) k = 1.
    val k = math.max(1,
      (2 * spark.sparkContext.defaultParallelism + n - 1) / n)
    val groups = (n.toLong * k)
    val candT = cands
      .select(col("surt_key"), col("canonical_url"), col("host"),
        col("priority").cast("int"))
      .as[(String, String, String, Int)]
    candT.groupByKey(c =>
        java.lang.Math.floorMod(SeenFilter.hashKey(c._1), groups).toInt)
      .flatMapGroups { (group, cs) =>
        val shard = group % n
        // in-batch dedup: min per field, mirroring groupBy(surt).agg(min…).
        // String mins use CODE-POINT order (= Spark's UTF8String binary
        // order), not Java's UTF-16 order — they differ for
        // supplementary-plane characters, and the representative must
        // match what a SQL-side min over the same data would keep.
        val agg = new java.util.HashMap[String, Array[AnyRef]]()
        cs.foreach { c =>
          val cur = agg.get(c._1)
          if (cur == null)
            agg.put(c._1, Array[AnyRef](c._2, c._3, Integer.valueOf(c._4)))
          else {
            if (Frontier.codePointLess(c._2, cur(0).asInstanceOf[String])) cur(0) = c._2
            if (Frontier.codePointLess(c._3, cur(1).asInstanceOf[String])) cur(1) = c._3
            if (c._4 < cur(2).asInstanceOf[Integer].intValue()) cur(2) = Integer.valueOf(c._4)
          }
        }
        val levels = idxB.value.getOrElse(shard, Nil)
          .map(rel => Frontier.loadLevel(ckDir, rel, confB.value.value)).toArray
        import scala.jdk.CollectionConverters._
        agg.entrySet().iterator().asScala
          .filter { e =>
            levels.isEmpty || {
              val h = SeenFilter.hashKey(e.getKey)
              var seen = false
              var i = 0
              while (!seen && i < levels.length) {
                seen = levels(i).contains(h); i += 1
              }
              !seen
            }
          }
          .map { e =>
            val v = e.getValue
            (e.getKey, v(0).asInstanceOf[String], v(1).asInstanceOf[String],
              v(2).asInstanceOf[Integer].intValue())
          }
      }.toDF("surt_key", "canonical_url", "host", "priority")
  }

  // ----------------------------------------------------------------
  // Robots / politeness
  // ----------------------------------------------------------------

  /** Parsed robots state, materialized ONCE PER ROBOTS-TABLE VERSION
    * into the checkpoint (`robots_parsed/{rules,delays}` + a
    * fingerprint marker) and read back as parquet. Rationale: the raw
    * robots table changes slowly but the gate runs every wave — at
    * 10^8 hosts, re-running groupBy(host)+parse per wave is a
    * full-table parse pass for an input that did not change. The
    * fingerprint (agent + row count + order-independent content hash)
    * costs one narrow scan per Frontier INSTANCE; waves then pay only
    * the parquet read of the parsed form. A different robots snapshot
    * or agent re-parses and atomically re-publishes. */
  /** Gate-snapshot fingerprint: identifies the robots rules every
    * pending row was gated under at insert. The synthetic (no-table)
    * gate is a pure constant function, fingerprinted by name. */
  private lazy val gateFingerprint: String = robots match {
    case None => "synthetic"
    case Some(r) =>
      import org.apache.spark.sql.types.DecimalType
      // order-independent content hash; decimal sum cannot overflow ANSI
      val fpRow = r.select(count(lit(1)),
        sum(xxhash64(col("host"), col("robots_txt")).cast(DecimalType(38, 0)))).head()
      cfg.agent.replaceAll("[^A-Za-z0-9]", "_") +
        s"-c${fpRow.getLong(0)}-h${if (fpRow.isNullAt(1)) "0" else fpRow.getDecimal(1).toBigInteger.toString}"
  }

  /** TRUE iff the schedule-time robots RE-GATE can be skipped: every
    * row this checkpoint ever inserted was gated under the CURRENT
    * snapshot, making the re-gate provably the identity (each
    * scheduled row already passed exactly these rules at insert). A
    * durable `ROBOTS_EVER-<fp>.m` marker records every snapshot that
    * ever gated inserts here (published before the first gated write,
    * never deleted); the re-gate runs whenever any OTHER fingerprint
    * appears in that set — i.e. a crawl resumed under a newer snapshot
    * keeps the RFC 9309 fetch-time check until its state dies, while
    * the unchanged-snapshot common case pays nothing (VERDICT r5 #1b). */
  private[frontier] lazy val gateUnchanged: Boolean = {
    val seen = markers.names("ROBOTS_EVER-(.+)\\.m".r).toSet
    if (!seen.contains(gateFingerprint))
      markers.publish(s"ROBOTS_EVER-$gateFingerprint.m", "{}")
    (seen - gateFingerprint).isEmpty
  }

  private lazy val robotsTables: Option[(DataFrame, DataFrame)] = robots.map { r =>
    import org.apache.spark.sql.types._
    val rulesSchema = StructType(Seq(
      StructField("host", StringType),
      StructField("rules", ArrayType(StructType(Seq(
        StructField("_1", BooleanType), StructField("_2", StringType)))))))
    val delaysSchema = StructType(Seq(
      StructField("host", StringType), StructField("crawl_delay", DoubleType)))
    val fp = gateFingerprint
    val markerName = s"ROBOTS_PARSED-$fp.marker"
    if (!markers.exists(markerName)) {
      // retire superseded markers BEFORE touching the shared parquet:
      // a crash mid-overwrite must never leave an old marker
      // validating new or partially-written rule data
      markers.names("(ROBOTS_PARSED-.+)".r).foreach(markers.delete)
      Robots.hostRules(r, cfg.agent)
        .write.mode("overwrite").parquet(dir("robots_parsed", "rules"))
      Robots.crawlDelays(r, cfg.agent)
        .write.mode("overwrite").parquet(dir("robots_parsed", "delays"))
      markers.publish(markerName, s"""{"fingerprint":"$fp"}""")
    }
    // explicit schemas: an all-allowed crawl yields an EMPTY delays
    // table, whose parquet dir has no data file to infer from
    (spark.read.schema(rulesSchema).parquet(dir("robots_parsed", "rules")),
      spark.read.schema(delaysSchema).parquet(dir("robots_parsed", "delays")))
  }

  /** Robots gate. With a real robots table (`robots`: host,
    * robots_txt) the PRE-PARSED per-host rules (robotsTables — RFC
    * 9309 longest-match semantics) are joined against the URL path.
    * Without one, the deterministic synthetic rule (every 5th host by
    * hash disallows /private) keeps benches and oracles reproducible. */
  private def applyRobots(df: DataFrame): DataFrame = robotsTables match {
    case Some((rules, _)) =>
      val pathOf = udf((url: String) =>
        url.replaceFirst("^[a-zA-Z][a-zA-Z0-9+.-]*://[^/]*", "") match {
          case "" => "/"
          case p  => p
        })
      Robots.applyRulesTable(df.withColumn("__path", pathOf(col("canonical_url"))),
          rules, "host", "__path")
        .drop("__path")
    case None =>
      val disallowed = udf((host: String, url: String) => {
        val blocked = java.lang.Math.floorMod(SeenFilter.hashKey(host), 5L) == 0L
        blocked && url.contains("/private")
      })
      df.filter(!disallowed(col("host"), col("canonical_url")))
  }

  /** Attach the effective per-host budget `k_eff` = hostBudget, shrunk
    * by a robots Crawl-delay to floor(waveWindowSec / delay) —
    * politeness pacing expressed as a per-wave cap (broadcast join of
    * the tiny per-host delay table). Without a robots table the budget
    * is a constant-folded literal. */
  private def withKeff(df: DataFrame): DataFrame = {
    val k = cfg.hostBudget
    robotsTables match {
      case Some((_, delaysTable)) =>
        val delays = delaysTable
          .select(col("host"),
            least(lit(k), greatest(lit(1),
              floor(lit(cfg.waveWindowSec) / col("crawl_delay")).cast("int"))).as("k_eff"))
        df.join(broadcast(delays), Seq("host"), "left")
          .withColumn("k_eff", coalesce(col("k_eff"), lit(k)))
      case None => df.withColumn("k_eff", lit(k))
    }
  }

  // ----------------------------------------------------------------
  // Queue-head frontier state: head + fence + bucketed backlog
  // ----------------------------------------------------------------
  // The pending frontier is split per host into a small HEAD (the
  // rows scheduling actually consults) and an append-only host-
  // bucketed BACKLOG, separated by a per-host FENCE — a (priority,
  // surt) watermark.
  //
  //   head(host)        = all pending rows ≤ fence(host)   (≈ M rows)
  //   backlogLive(host) = all pending rows > fence(host)
  //
  // fence = NULL means "never spilled": the host has NO backlog rows
  // and its whole queue sits in the head. Fences are MONOTONE — set
  // once (first spill, at the then-Mth-best row), raised by refills,
  // never lowered — so a row moved from backlog to head can ignore its
  // stale backlog copy forever: stale copies (≤ fence) are invisible
  // to every read (all backlog reads filter `> fence`) and are
  // physically dropped at backlog compaction.
  //
  // EXACTNESS (the invariant the parity suites + q29/q35 oracles
  // gate): after each wave's maintenance, any host with live backlog
  // (bn > 0) holds ≥ hostBudget head rows (refilled to M when it
  // dropped below). head = pending ≤ fence and backlog = pending >
  // fence then give per-host top-k_eff(head) == top-k_eff(pending)
  // for every k_eff ≤ hostBudget — scheduling from the head equals
  // scheduling from the full pending set, while touching O(heads)
  // instead of O(pending) rows.
  //
  // Costs per wave: scheduling shuffles O(head); insertion shuffles
  // O(fresh + hosts) (fence join + host group); spill appends
  // O(spilled) as a new bucketed delta (never rewrites the backlog);
  // refill reads ONLY the backlog buckets containing needy hosts —
  // directory-pruned — amortized O(scheduled) rows moved per wave.
  // Nothing anywhere is O(pending).

  private val PendingSchema = org.apache.spark.sql.types.StructType(Seq(
    org.apache.spark.sql.types.StructField("surt_key", org.apache.spark.sql.types.StringType),
    org.apache.spark.sql.types.StructField("canonical_url", org.apache.spark.sql.types.StringType),
    org.apache.spark.sql.types.StructField("host", org.apache.spark.sql.types.StringType),
    org.apache.spark.sql.types.StructField("priority", org.apache.spark.sql.types.IntegerType)))

  /** Backlog rows additionally carry the EPOCH they were spilled under
    * (head rows never do — the head is always live). A backlog row is
    * believed only while its epoch equals its host's current fence
    * epoch; an epoch bump (per-host re-cut) invalidates every older
    * row of that host at once without touching the files. */
  private val BacklogSchema = org.apache.spark.sql.types.StructType(
    PendingSchema.fields :+ org.apache.spark.sql.types.StructField(
      "epoch", org.apache.spark.sql.types.IntegerType))

  private def headM: Int = math.max(cfg.hostBudget, cfg.headMult * cfg.hostBudget)

  private def bucketCol: org.apache.spark.sql.Column =
    pmod(hash(col("host")), lit(cfg.backlogBuckets))

  /** Priority band: monotone in priority (band 0 = best), clamped.
    * Refills read band 0 first and provably stop there when every
    * taken row's priority stays inside it — O(taken)-ish reads instead
    * of re-scanning a host's whole deep queue on every refill. Band
    * and bucket are FOLDED into one partition value `bkb = bucket*16 +
    * band` (dir `bkb=<v>`): a single partition column keeps the
    * dynamic-partition writer on its fast path while preserving both
    * prunings. */
  private val BandWidth = 8
  private val MaxBand = 15
  private def bandCol: org.apache.spark.sql.Column =
    least(lit(MaxBand), greatest(lit(0),
      (col("priority") / lit(BandWidth)).cast("int")))
  private def bkbCol: org.apache.spark.sql.Column =
    bucketCol * lit(MaxBand + 1) + bandCol

  /** One maintenance dir per wave holding the wave's state
    * partitions: `dest=head` (flat files + an optional `refill`
    * subdir) and `dest=spill/bkb=<bucket*16+band>` (the backlog
    * delta), written as two concurrent jobs; per-host head/spill
    * counts come back as cheap columnar reads of what was written.
    * (The per-host fence deltas live separately under
    * `fence_delta/wave=N`.) */
  private def maintDir(wave: Int): String = dir("maint", s"wave=$wave")
  private def headDir(wave: Int): String = maintDir(wave) + "/dest=head"
  private def spillDir(wave: Int): String = backlogStore.deltaDir(wave)

  private def pathExists(d: String): Boolean = {
    val p = new org.apache.hadoop.fs.Path(d)
    p.getFileSystem(spark.sessionState.newHadoopConf()).exists(p)
  }

  private def emptyPending: DataFrame =
    spark.createDataFrame(spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], PendingSchema)

  private def emptyBacklog: DataFrame =
    spark.createDataFrame(spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], BacklogSchema)

  /** Schema-pinned recursive read (bucket subdirs are storage layout,
    * not data); empty frame when the dest partition wrote no rows. */
  private def readDest(d: String): DataFrame =
    if (!pathExists(d)) emptyPending
    else spark.read.schema(PendingSchema).option("recursiveFileLookup", "true").parquet(d)

  private def headDf(wave: Int): DataFrame = readDest(headDir(wave))

  private val FenceSchema = org.apache.spark.sql.types.StructType(Seq(
    org.apache.spark.sql.types.StructField("host", org.apache.spark.sql.types.StringType),
    org.apache.spark.sql.types.StructField("fp", org.apache.spark.sql.types.IntegerType),
    org.apache.spark.sql.types.StructField("fs", org.apache.spark.sql.types.StringType),
    org.apache.spark.sql.types.StructField("bn", org.apache.spark.sql.types.LongType),
    org.apache.spark.sql.types.StructField("epoch", org.apache.spark.sql.types.IntegerType),
    // rf: the host REFILLED within its current epoch — i.e. stale
    // backlog copies of head rows may exist under this epoch. Gates
    // the cheap (in-place fence-lowering) re-cut: with rf=false the
    // epoch provably has NO copies, so lowering the fence resurrects
    // nothing and the overgrown head's overflow spills as plain rows
    // — no epoch bump, no backlog rewrite. rf resets on an epoch bump
    // (old copies die by epoch mismatch).
    org.apache.spark.sql.types.StructField("rf", org.apache.spark.sql.types.BooleanType),
    // rc: number of re-cuts this host ever took (either path) —
    // observability + test non-vacuity.
    org.apache.spark.sql.types.StructField("rc", org.apache.spark.sql.types.IntegerType)))

  private def emptyFence: DataFrame =
    spark.createDataFrame(spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], FenceSchema)

  // FENCE DELTA STORE (round 5 — replaces the per-wave full fence
  // rewrite, which was O(hosts-ever-spilled) per wave; at 10^8 fenced
  // hosts that was a few GB of full_outer + rewrite every wave even
  // when almost every host was drained and dormant). A wave appends ONE
  // small delta (`fence_delta/wave=N`) holding a row ONLY for hosts
  // whose fence state changed this wave — new first-spill fences, hosts
  // that received spill (bn grew), refilled hosts (fp/fs raised, bn
  // shrank), epoch re-cuts — and readers take the latest row per host
  // over the fence store's read set.
  //
  // A fence row is (host, fp, fs, bn, epoch): the fence watermark
  // (always non-null in a stored row — only spilled hosts have rows),
  // the live-backlog count, and the host's backlog EPOCH. Backlog rows
  // carry the epoch they were spilled under; a read only believes rows
  // whose epoch matches the host's current fence epoch, which is what
  // lets an adversarially-overgrown head be RE-CUT (fence reset + epoch
  // bump) without resurrecting stale refill copies — see
  // maintainFrontier step 5.

  /** INCREMENTAL fence view (round 6 — the SCALE.md "tracked" fold):
    * the reduced latest-per-host view of the wave just maintained,
    * kept in-instance as a checkpointed frame. Each wave folds
    * (previous view ∖ delta hosts) ∪ delta — O(view scan + delta)
    * with a small anti-join instead of re-reading and re-reducing
    * base + every delta dir (O(hosts + delta rows) disk + one
    * hash-agg shuffle) per wave. Cold start / resume / off-wave reads
    * fall back to the full reduce below; the fold is EXACT because a
    * wave's delta carries at most one row per host (deltaBase /
    * refill / re-cut rows partition the touched hosts), so replacing
    * those hosts' rows reproduces the max_by-recency reduce. */
  private val fenceViewCache =
    new java.util.concurrent.atomic.AtomicReference[(Int, DataFrame)](null)

  /** Latest-per-host fence view as of `wave`: base ∪ committed deltas
    * in (base, wave], reduced by delta recency. One hash-agg shuffle of
    * O(hosts + delta rows); its output partitioning (host) is exactly
    * what every consumer joins on. Served from the in-instance
    * incremental view when the asked-for wave is the one it holds. */
  private def fenceDf(wave: Int): DataFrame = {
    require(layoutChecked)
    val cached = fenceViewCache.get()
    if (cached != null && cached._1 == wave) return cached._2
    fenceDfFull(wave)
  }

  private def fenceDfFull(wave: Int): DataFrame = {
    // per-dir reads with a LITERAL recency stamp (delta count is
    // bounded by compactEvery, so the union stays a handful of scans)
    val parts = fenceStore.liveRuns(wave).map(b =>
        spark.read.schema(FenceSchema).parquet(fenceStore.baseDir(b))
          .withColumn("__w", lit(b))) ++
      fenceStore.newDeltas(wave).map(w =>
        spark.read.schema(FenceSchema).parquet(fenceStore.deltaDir(w))
          .withColumn("__w", lit(w)))
    parts match {
      case Seq() => emptyFence
      case ps =>
        ps.reduce(_ unionByName _)
          .groupBy("host")
          .agg(max_by(struct(col("fp"), col("fs"), col("bn"), col("epoch"),
            col("rf"), col("rc")), col("__w")).as("s"))
          .select(col("host"), col("s.fp").as("fp"), col("s.fs").as("fs"),
            col("s.bn").as("bn"), col("s.epoch").as("epoch"),
            col("s.rf").as("rf"), col("s.rc").as("rc"))
    }
  }

  /** Fold fence deltas ≤ `upTo` (committed) into one compacted base.
    * Wired into the wave loop with the seen/backlog compactions. */
  def compactFence(upTo: Int): Unit = {
    require(upTo <= latestCommittedWave(), s"wave $upTo not committed yet")
    if (fenceStore.needsFold(upTo))
      fenceStore.commit(upTo, fenceStore.liveRuns())(
        fenceDf(upTo).write.mode("overwrite").parquet(_))
  }

  /** Top-level backlog dirs readable as of `wave`: the backlog store's
    * read set (compacted runs + newer spill deltas). */
  private def backlogDirs(wave: Int): Seq[String] = backlogStore.readSet(wave)

  /** Memoized `bkb=` child listing of one backlog store dir (the
    * single listing path shared by the data-dir and bounds-sidecar
    * readers — the two differ only in which bkb values they collect). */
  private def bkbChildren(d: String,
                          conf: org.apache.hadoop.conf.Configuration): Seq[(Int, String)] =
    bucketDirCache.computeIfAbsent(d, { dd =>
      val p = new org.apache.hadoop.fs.Path(dd)
      val fs = p.getFileSystem(conf)
      fsListOps.incrementAndGet()
      if (!fs.exists(p)) Nil
      else fs.listStatus(p).toSeq.flatMap { st =>
        val n = st.getPath.getName
        n.stripPrefix("bkb=").toIntOption match {
          case Some(v) if n.startsWith("bkb=") => Some((v, st.getPath.toString))
          case _                               => None
        }
      }
    })

  /** The bkb=<bucket*16+band> data subdirectories of the backlog dirs
    * `tops` whose logical bucket is in `buckets` and which physically
    * exist — the directory-pruned read set. `bandZeroOnly` keeps only
    * band-0 dirs. */
  private def backlogBucketDirs(tops: Seq[String],
                                buckets: Set[Int] = (0 until cfg.backlogBuckets).toSet,
                                bandZeroOnly: Boolean = false): Seq[String] = {
    val conf = spark.sessionState.newHadoopConf()
    tops.flatMap { d =>
      bkbChildren(d, conf).collect {
        // v == -1 is the per-host BOUNDS sidecar, never row data
        case (v, path) if v >= 0 && buckets.contains(v / (MaxBand + 1)) &&
            (!bandZeroOnly || v % (MaxBand + 1) == 0) => path
      }
    }
  }

  /** Strictly above the host's fence (fp, fs). */
  private def aboveFence: org.apache.spark.sql.Column =
    col("fp").isNotNull &&
      (col("priority") > col("fp") ||
        (col("priority") === col("fp") && col("surt_key") > col("fs")))

  /** Backlog rows joined to their host's fence (`epoch` renamed `__fe`,
    * other fence columns kept), keeping only LIVE rows: strictly above
    * the fence (stale copies of refilled rows drop out) AND of the
    * host's current epoch (rows of re-cut hosts' old epochs drop out).
    * The one liveness rule of every backlog read. */
  private def backlogLive(dirs: Seq[String], fence: DataFrame): DataFrame =
    backlogRows(dirs).join(fence.withColumnRenamed("epoch", "__fe"), Seq("host"), "inner")
      .filter(liveBacklogRow)

  /** Schema-pinned recursive read of backlog data dirs. */
  private def backlogRows(dirs: Seq[String]): DataFrame =
    if (dirs.isEmpty) emptyBacklog
    else spark.read.schema(BacklogSchema)
      .option("recursiveFileLookup", "true").parquet(dirs: _*)

  private def liveBacklogRow: org.apache.spark.sql.Column =
    aboveFence && coalesce(col("epoch"), lit(0)) === coalesce(col("__fe"), lit(0))

  /** Per-host BOUNDS sidecar schema: the best (priority, surt) among a
    * banded store's rows OUTSIDE band 0 — written as the `bkb=-1`
    * partition of that store. A refill that met its deficit from
    * band-0 rows all strictly better than every bounds row has
    * provably seen the host's true next rows; stores that collapsed
    * entirely into band 0 have no unread rows and write no sidecar.
    * Conservative under later liveness changes: fences only rise and
    * epochs only invalidate, so the true best unread row only gets
    * worse than the recorded bound. */
  private val BoundsSchema = org.apache.spark.sql.types.StructType(Seq(
    org.apache.spark.sql.types.StructField("host", org.apache.spark.sql.types.StringType),
    org.apache.spark.sql.types.StructField("bp", org.apache.spark.sql.types.IntegerType),
    org.apache.spark.sql.types.StructField("bs", org.apache.spark.sql.types.StringType)))

  /** The bkb=-1 bounds sidecars present among the readable backlog
    * stores (memoized child listings, like the data dirs). */
  private def backlogBoundsDirs(wave: Int): Seq[String] = {
    val conf = spark.sessionState.newHadoopConf()
    backlogDirs(wave).flatMap { d =>
      bkbChildren(d, conf).collect { case (v, path) if v == -1 => path }
    }
  }

  private def writeBounds(rows: DataFrame, bandColRef: org.apache.spark.sql.Column,
                          dest: String): Unit =
    rows.filter(bandColRef >= 1)
      .groupBy("host")
      .agg(min(struct(col("priority").as("p"), col("surt_key").as("s"))).as("b"))
      .select(col("host"), col("b.p").as("bp"), col("b.s").as("bs"))
      .coalesce(1)
      .write.mode("overwrite").parquet(dest + "/bkb=-1")

  /** TIERED backlog compaction. Normally folds only the accumulated
    * deltas into ONE new rank-banded run (O(deltas), flat in pending);
    * runs merge with each other only when the smaller tiers together
    * reach half the largest run (or ≥ 4 runs exist) — classic LSM
    * tiering, so per-wave amortized compaction I/O is O(fresh × log),
    * never O(backlog/K). Each run: band 0 = each host's top-B0 live
    * rows at fold time, later bands geometric, plus a bkb=-1 bounds
    * sidecar (best row outside band 0) that keeps the refill phase-A
    * settle exact — the old priority bands made band 0 a fixed
    * fraction of the WHOLE backlog (O(pending/16) per refill wave,
    * measured linear at 20M→40M pending) and their static settle
    * check stopped working once fences rose past the first band.
    * A merge passes the runs it folds to the store commit, whose marker
    * claims them. */
  def compactBacklog(upTo: Int): Unit = {
    require(upTo <= latestCommittedWave(), s"wave $upTo not committed yet")
    if (!backlogStore.needsFold(upTo)) return
    val runs = backlogStore.liveRuns(upTo)
    val deltaDirs = backlogStore.newDeltas(upTo).map(backlogStore.deltaDir)
    val conf = spark.sessionState.newHadoopConf()
    def bytesOf(d: String): Long = {
      val pp = new org.apache.hadoop.fs.Path(d)
      pp.getFileSystem(conf).getContentSummary(pp).getLength
    }
    val runSizes = runs.map(r => r -> bytesOf(backlogStore.baseDir(r)))
    val largest = runSizes.map(_._2).maxOption.getOrElse(0L)
    val smallSum = runSizes.map(_._2).sum - largest + deltaDirs.map(bytesOf).sum
    val merge = runs.nonEmpty && (runs.size >= 4 || smallSum * 2 >= largest)
    val foldedRuns = if (merge) runs else Seq.empty
    // source data dirs: bkb>=0 children only (the bkb=-1 bounds
    // sidecars are a different schema and are regenerated below)
    val srcData = backlogBucketDirs(foldedRuns.map(backlogStore.baseDir) ++ deltaDirs)
    if (srcData.isEmpty) return
    val live = backlogLive(srcData, fenceDf(upTo).select("host", "fp", "fs", "epoch"))
      .select("surt_key", "canonical_url", "host", "priority", "epoch")
    val b0 = math.max(2 * headM, 16)
    backlogStore.commit(upTo, foldedRuns) { out =>
      val banded = live
        .withColumn("__rk", row_number().over(hostOrder))
        .withColumn("__band",
          when(col("__rk") <= b0, lit(0)).otherwise(
            least(lit(MaxBand), (floor(
              log(4.0, (col("__rk") - 1).cast("double") / b0)) + 1).cast("int"))))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      banded.select(col("surt_key"), col("canonical_url"), col("host"), col("priority"),
          col("epoch"), (bucketCol * lit(MaxBand + 1) + col("__band")).as("bkb"))
        .repartition(col("bkb"))
        .write.partitionBy("bkb").mode("overwrite").parquet(out)
      writeBounds(banded, col("__band"), out)
      banded.unpersist(blocking = false)
      bucketDirCache.remove(out)
    }
    // drop the child listings of the dirs the commit GC'd
    import scala.jdk.CollectionConverters._
    bucketDirCache.keySet().retainAll(backlogDirs(Int.MaxValue).asJava)
  }

  /** Delete superseded per-wave state: stale FENCES markers and the
    * head partitions of maint dirs ≤ wave-2 (resume reads at most
    * state wave-1; spill partitions are BACKLOG and fence deltas are
    * fence STATE — both live until their compactions fold them).
    * Self-healing (diffs the disk, not a fixed offset). */
  private def pruneFrontierState(wave: Int): Unit = {
    for (w <- markers.list("FENCES-(\\d+)\\.m".r) if w <= wave - 2)
      markers.delete(s"FENCES-$w.m")
    val root = new org.apache.hadoop.fs.Path(cfg.checkpointDir, "maint")
    val fs = root.getFileSystem(spark.sessionState.newHadoopConf())
    if (fs.exists(root)) fs.listStatus(root).foreach { d =>
      val name = d.getPath.getName
      if (name.startsWith("wave=") && name.stripPrefix("wave=").toIntOption.exists(_ <= wave - 2)) {
        val left = fs.listStatus(d.getPath).count { st =>
          !(Set("dest=head", "_SUCCESS")(st.getPath.getName) &&
            pruneDelete(fs, st.getPath, recursive = true))
        }
        // the wave dir goes once its spill partition is gone too
        if (left == 0) pruneDelete(fs, d.getPath, recursive = false)
      }
    }
  }

  // ----------------------------------------------------------------
  // Synthetic discovery (outlinks) — deterministic, Zipf-skewed hosts
  // ----------------------------------------------------------------

  /** Synthetic discovery — ONE generator shared verbatim with the
    * sequential parity comparator (`ReferenceCrawler.outlinks`), so
    * schedule parity can never drift on generator details. */
  private def discoverOutlinks(scheduled: DataFrame): DataFrame = {
    val c = cfg // capture the case class, not the Frontier instance
    val gen = udf((surt: String) => ReferenceCrawler.outlinks(surt, c))
    scheduled.select(explode(gen(col("surt_key"))).as("link"))
      .select(col("link._1").as("url"), col("link._2").as("priority"))
  }

  // ----------------------------------------------------------------
  // Checkpointing
  // ----------------------------------------------------------------

  def latestCommittedWave(): Int = {
    val re = "MANIFEST-(\\d+)\\.json".r
    val waves = markers.list(re)
    if (waves.isEmpty) -1 else waves.max
  }

  private def commit(wave: Int, result: WaveResult): Unit = {
    val json =
      s"""{"wave":$wave,"candidates":${result.candidates},"deduped":${result.deduped},
         |"fresh":${result.fresh},"allowed":${result.allowed},"scheduled":${result.scheduled},
         |"seen_total":${result.seenTotal},"pending_total":${result.pendingTotal},
         |"elapsed_sec":${result.elapsedSec}}""".stripMargin.replace("\n", "")
    markers.publish(s"MANIFEST-$wave.json", json)
  }

  // ----------------------------------------------------------------
  // Waves
  // ----------------------------------------------------------------

  /** Initialize state from a seed URL list (DataFrame with url,
    * priority). Canonicalizes + dedups, admits everything to the SEEN
    * set (membership parity with the reference is insert-time,
    * pre-robots), gates robots at insert, and writes the whole
    * allowed queue as the wave-0 head — the per-host top-M cut is
    * LAZY (wave 1's schedule window, which must sort the head anyway,
    * trims it and sets the first fences), so init is pure O(seeds)
    * I/O with zero exchanges. Commits wave 0. */
  def initialize(seeds: DataFrame): WaveResult = {
    val t0 = System.nanoTime()
    // durable ROBOTS_EVER record BEFORE the first gated write (the
    // re-gate-skip decision depends on every snapshot that ever gated
    // inserts into this checkpoint — see gateUnchanged)
    gateUnchanged
    val canon = canonicalized(seeds)
      .groupBy("surt_key")
      .agg(min("priority").as("priority"),
        min("canonical_url").as("canonical_url"), min("host").as("host"))
      .select("surt_key", "canonical_url", "host", "priority")
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val obs = org.apache.spark.sql.Observation()
    val fSeen = Frontier.guarded {
      canon.select("surt_key").observe(obs, count(lit(1)).as("n"))
        .write.mode("overwrite").parquet(seenStore.deltaDir(0))
    }
    val fShards = Frontier.guarded {
      writeIndex(0, updateShardFiles(Map.empty, canon.select("surt_key"), 0))
    }
    val headObs = org.apache.spark.sql.Observation()
    val fState = Frontier.guarded {
      // LAZY head split: the ENTIRE allowed seed set becomes the head
      // — no window, no shuffle, a straight filtered write. Wave 1's
      // schedule window (which must sort the head anyway) performs the
      // per-host top-M cut and sets the first fences; init itself is
      // O(seeds) I/O with zero exchanges.
      applyRobots(canon).observe(headObs, count(lit(1)).as("n"))
        .write.mode("overwrite").parquet(headDir(0))
      // no fence state at init: the fence VIEW is empty until the first
      // spill writes a delta (wave 1's lazy cut)
    }
    Seq(fSeen, fShards, fState).foreach(Await.result(_, Duration.Inf))
    canon.unpersist(blocking = false)
    val n = obs.get("n").asInstanceOf[Long]
    // allowed/pending reflect the robots-gated head actually written;
    // candidates/deduped/seen reflect pre-gate admission (seen parity)
    val nAllowed = headObs.get("n").asInstanceOf[Long]
    val res = WaveResult(0, n, n, n, nAllowed, 0, n, nAllowed,
      (System.nanoTime() - t0) / 1e9)
    commit(0, res)
    res
  }

  /** Fail loudly on a pre-round-5 checkpoint: its fence lived in
    * fence/wave=N dirs, which the fence_base/fence_delta reader never
    * consults — resuming one would silently produce an EMPTY fence
    * view, so every previously fenced host's backlog would never
    * refill. Same loud-failure contract as the seen-shard mismatch
    * above. Required by `runWave` and by every fence-store read
    * (`fenceDf`); passes at most once per instance. */
  private lazy val layoutChecked: Boolean = {
    val legacy = new org.apache.hadoop.fs.Path(cfg.checkpointDir, "fence")
    val fs = Frontier.rawFs(legacy, spark.sessionState.newHadoopConf())
    require(!fs.exists(legacy),
      s"checkpoint ${cfg.checkpointDir} holds a legacy fence/wave=N store; " +
        "this build reads fence_base/fence_delta only — resuming would lose " +
        "every fence. Re-crawl or migrate the fence store first")
    true
  }

  /** Run the next wave after the latest committed one, as named steps
    * called in order: schedule window → discover + seen probe → (in
    * `maintainFrontier`, concurrent with the seen and shard writes)
    * route → accounting → re-cut → head/spill/delta writes → refill →
    * fence delta + view fold → commit. Every frame a step persists goes
    * through `keep` onto ONE per-wave list, unpersisted once the wave's
    * state writes are done. */
  def runWave(): WaveResult = {
    val prev = latestCommittedWave()
    require(prev >= 0, "frontier not initialized")
    require(layoutChecked)
    val wave = prev + 1
    val t0 = System.nanoTime()
    val persisted = new java.util.concurrent.ConcurrentLinkedQueue[DataFrame]
    val keep: DataFrame => DataFrame = { df =>
      persisted.add(df)
      df.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    }
    val (nFresh, nScheduled) =
      try {
        val prevIdx = readIndex(prev)
        // FENCE-FREE FAST PATH: the previous wave records whether ANY
        // host has a fence (a tiny disk marker — no job). Most crawls'
        // early waves have none, and then the fence-view read, the needy
        // probe and the accounting joins all vanish.
        val hasFences = markers.exists(s"FENCES-$prev.m")
        // latest-per-host fence VIEW, persisted for the wave — consumed
        // by the schedule join, the fresh-routing join and the
        // accounting joins (one O(hosts) reduce instead of three)
        val fencePrev = keep(if (hasFences) fenceDf(prev) else emptyFence)
        val (ranked, saltDropped) = scheduleWindow(headDf(prev), fencePrev, hasFences, keep)
        val scheduled0 = ranked.filter(col("rank_in_host") <= col("k_eff"))
          .withColumn("wave", lit(wave))
          .select("host", "surt_key", "canonical_url", "priority", "rank_in_host", "wave")
        val scheduled = regate(scheduled0, keep)
        val fSched = writeSchedule(scheduled, wave)
        val (fresh, nFresh) = discoverFresh(scheduled, prevIdx, wave, keep)
        // state updates. The three sinks (seen delta, shard files, and
        // the head/fence/backlog maintenance chain) all hang off the
        // PERSISTED `fresh` and are mutually independent, so their jobs
        // are submitted CONCURRENTLY. Crash consistency is unaffected:
        // any subset of the writes is invisible until the manifest
        // commits, and a re-run overwrites everything idempotently.
        val fSeen = Frontier.guarded {
          jd("wave:seenDelta")
          // seen DELTA: persist only this wave's fresh keys (O(fresh) write)
          fresh.select("surt_key").write.mode("overwrite").parquet(seenStore.deltaDir(wave))
          seenStore.addDelta(wave)
        }
        val fShards = Frontier.guarded {
          jd("wave:shards")
          // incremental shard maintenance: insert only this wave's fresh keys
          writeIndex(wave, prevIdx ++ updateShardFiles(prevIdx, fresh.select("surt_key"), wave))
        }
        val fState = Frontier.guarded {
          jd("wave:maint")
          // scheduled0, NOT the robots-re-gated frame: the accounting
          // needs the pre-gate SUPERSET so a host whose whole slice the
          // re-gate suppressed still gets its per-host row — otherwise its
          // bn>0 backlog would never trigger needyCond and the host would
          // starve permanently after a robots-snapshot change.
          maintainFrontier(ranked, fencePrev, scheduled0, fresh, saltDropped, hasFences,
            wave, keep)
        }
        val nScheduled = Await.result(fSched, Duration.Inf)
        Seq(fSeen, fShards, fState).foreach(Await.result(_, Duration.Inf))
        (nFresh, nScheduled)
      } finally persisted.forEach(_.unpersist(false))
    commitWave(wave, nFresh, nScheduled, t0)
  }

  private def hostOrder = Window.partitionBy(col("host")).orderBy(col("priority"), col("surt_key"))
  private def pcols: Seq[org.apache.spark.sql.Column] = PendingSchema.fieldNames.toSeq.map(col)
  private def bcols: Seq[org.apache.spark.sql.Column] = BacklogSchema.fieldNames.toSeq.map(col)
  private def fcols: Seq[org.apache.spark.sql.Column] = FenceSchema.fieldNames.toSeq.map(col)

  /** Salted per-host top-M, the wave's defence against host skew
    * (DS2-style): `rows` first pass a per-(host, salt) top-M pre-cut, so
    * no hot host serializes one reducer, and the survivors — together
    * with `unsalted` rows, whose hosts are host-disjoint from `rows` and
    * already bounded near M — are ranked per host into `rankCol`.
    * EXACT for every rank ≤ M: a row dropped by its salt group has ≥ M
    * better rows in that group alone, hence lies outside its host's
    * true top-M. Returns the ranked survivors and the dropped rows; the
    * pre-cut frame is persisted (through `keep`) since both read it. */
  private def saltedTopM(rows: DataFrame, rankCol: String, keep: DataFrame => DataFrame,
                         unsalted: Option[DataFrame] = None): (DataFrame, DataFrame) = {
    val M = headM
    val salted = keep(rows.withColumn("rn1", row_number().over(Window
      .partitionBy(col("host"), pmod(hash(col("surt_key")), lit(cfg.salt)))
      .orderBy(col("priority"), col("surt_key")))))
    val survivors = salted.filter(col("rn1") <= M).drop("rn1")
    (unsalted.fold(survivors)(_.unionByName(survivors))
        .withColumn(rankCol, row_number().over(hostOrder)),
      salted.filter(col("rn1") > M).select(pcols: _*))
  }

  /** Schedule-window step: ONE ranked window over the HEAD only —
    * O(heads), never O(pending). FENCED hosts (heads bounded ~M) rank in
    * a plain per-host window; UNFENCED hosts — the whole seed queue
    * after init, or a newly discovered host's one-wave arrivals
    * (possibly Zipf-head-sized) — pass the salted pre-cut first. The
    * ranked frame yields the scheduled rows (rank ≤ k_eff), the head
    * remainder, the LAZY CUT (rank > M spills, the rank-M row becomes
    * the first fence) and has_next (a per-host count join for unfenced
    * hosts — survivor-local lead() cannot see salt-dropped rows).
    * Returns (ranked, salt-dropped rows). */
  private def scheduleWindow(head: DataFrame, fencePrev: DataFrame, hasFences: Boolean,
                             keep: DataFrame => DataFrame): (DataFrame, DataFrame) = {
    val base = keep(
      if (hasFences)
        withKeff(head).join(
          fencePrev.select(col("host"), col("fp"), col("fs"), col("epoch")),
          Seq("host"), "left")
      else
        withKeff(head)
          .withColumn("fp", lit(null).cast("int"))
          .withColumn("fs", lit(null).cast("string"))
          .withColumn("epoch", lit(null).cast("int")))
    val nullSlice = base.filter(col("fp").isNull)
    val cnts = nullSlice.groupBy("host").agg(count(lit(1)).as("cnt"))
    val (top, saltDropped) = saltedTopM(nullSlice, "rank_in_host", keep,
      Some(base.filter(col("fp").isNotNull)))
    val ranked = keep(top
      // NO broadcast hint: cnts has one row per unfenced host with head
      // rows — on the first cut wave that is EVERY seed host, and at
      // 10^8 hosts a forced broadcast collects gigabytes to the driver.
      // Spark's stats pick a BHJ at small scale on their own; at large
      // scale the host-keyed shuffle is the correct plan.
      .join(cnts, Seq("host"), "left")
      .withColumn("has_next",
        coalesce(col("cnt") > col("rank_in_host"), lit(false)))
      .drop("cnt"))
    (ranked, saltDropped)
  }

  /** RE-GATE the scheduled rows against the CURRENT robots snapshot:
    * rows were robots-gated at INSERT under the snapshot current THEN; a
    * crawl resumed with a newer snapshot must not fetch a queued URL the
    * new rules disallow (RFC 9309 — checks apply at fetch time).
    * O(scheduled) rows. A suppressed row is consumed-not-fetched; the
    * inverse case — disallowed at insert, re-allowed later — stays
    * uncrawled (insert-time seen membership is the documented semantics,
    * shared with the reference comparator). SKIPPED outright when every
    * insert this checkpoint ever took was gated under the current
    * snapshot (gateUnchanged): the re-gate is then provably the
    * identity. With a real robots table the re-gate is a join that both
    * the schedule write and discovery evaluate — persisted so it runs
    * once; without one the gate is a filter over the cached `ranked`. */
  private def regate(scheduled: DataFrame, keep: DataFrame => DataFrame): DataFrame =
    if (gateUnchanged) scheduled
    else if (robots.isDefined) keep(applyRobots(scheduled))
    else applyRobots(scheduled)

  /** Schedule-write step, submitted concurrently with discovery: both
    * hang off the same cached `ranked` frame and neither reads the
    * other's output. The future yields the scheduled count, observed on
    * the write job itself (no read-back count job). */
  private def writeSchedule(scheduled: DataFrame, wave: Int): scala.concurrent.Future[Long] = {
    val out = if (cfg.fastMode) scheduled else scheduled.orderBy("priority", "host", "surt_key")
    val obs = org.apache.spark.sql.Observation()
    Frontier.guarded {
      jd(s"wave$wave:schedule")
      out.observe(obs, count(lit(1)).as("n"))
        .write.mode("overwrite").parquet(dir("scheduled", s"wave=$wave"))
      // per-partition lineage metrics (over the artifact just written)
      if (!cfg.fastMode) {
        spark.read.parquet(dir("scheduled", s"wave=$wave"))
          .groupBy(spark_partition_id().as("partition_id"))
          .agg(count(lit(1)).as("n_scheduled"), countDistinct(col("host")).as("n_hosts"))
          .withColumn("wave", lit(wave))
          .write.mode("overwrite").parquet(dir("metrics", s"wave=$wave"))
      }
      obs.get("n").asInstanceOf[Long]
    }
  }

  /** Discover + seen-probe step: outlinks of the scheduled batch,
    * canonicalized, then dedup + seen-subtract in ONE shard-keyed
    * shuffle (`subtractSeen`). Returns the persisted fresh rows — every
    * state sink reads them — and their count. */
  private def discoverFresh(scheduled: DataFrame, prevIdx: Map[Int, Seq[String]], wave: Int,
                            keep: DataFrame => DataFrame): (DataFrame, Long) = {
    val discovered = canonicalized(discoverOutlinks(scheduled))
    jd(s"wave$wave:discover")
    val fresh = keep(subtractSeen(discovered.select(pcols: _*), prevIdx))
    (fresh, fresh.count())
  }

  /** Commit step: state-size reports (observability, skipped in bench
    * mode), the manifest, then GC and the periodic compaction. */
  private def commitWave(wave: Int, nFresh: Long, nScheduled: Long, t0: Long): WaveResult = {
    jd(s"wave$wave:commit")
    val fast = cfg.fastMode
    val nSeen = if (fast) -1L else seenUpTo(wave).count()
    val nPending = if (fast) -1L
      else headDf(wave).count() +
        fenceDf(wave).agg(coalesce(sum(col("bn")), lit(0L))).head().getLong(0)
    val res = WaveResult(wave, nFresh, nFresh, nFresh, nScheduled,
      nScheduled, nSeen, nPending, (System.nanoTime() - t0) / 1e9)
    commit(wave, res)
    // reclaim shard files superseded one wave ago (lag keeps a re-run
    // of THIS wave resolvable from the previous index), plus head/fence
    // dirs older than the resume horizon
    pruneSupersededShardFiles(wave)
    pruneFrontierState(wave)
    // periodic compaction, part of the wave loop (not a manual API):
    // fold deltas ≤ wave-1 — strictly-older-than-latest, the
    // crash-replay shape the resume suite proves — every K committed
    // waves. O(state) I/O amortized to O(state/K) per wave.
    if (cfg.compactEvery > 0 && wave % cfg.compactEvery == 0) {
      compactSeen(wave - 1)
      compactBacklog(wave - 1)
      compactFence(wave - 1)
    }
    res
  }

  /** Refill trigger: a fenced host with live backlog whose head fell
    * below the politeness budget (budget ≤ M, so it is short of M too). */
  private def needyCond: org.apache.spark.sql.Column =
    col("fp").isNotNull && col("bn") > 0 && col("hc") < cfg.hostBudget

  /** Re-cut trigger. No fp.isNotNull gate: a host FIRST discovered this
    * wave (no prior fence, no spill) whose fresh flood exceeds 2×M must
    * be cut too, or the "head ≤ 2×M post-wave" bound fails for one wave
    * per new hot host. Such a host is rf=false by construction (never
    * refilled), so it takes the cheap path: its rank-M row becomes its
    * FIRST fence (epoch 0) and bn = hc − M exactly. */
  private def recutCond: org.apache.spark.sql.Column = col("hc") > 2L * headM

  /** The wave's head/fence/backlog maintenance — every step costs
    * O(head + fresh + hosts-touched + refilled-backlog), never
    * O(pending), and the fence WRITE is never O(hosts-ever-spilled):
    *
    *  1. LAZY CUT, fused into the schedule window: the ranked head
    *     frame (already sorted per host for scheduling) trims each
    *     never-spilled host whose queue exceeded M — rank > M rows
    *     spill, the rank-M row becomes the host's first fence.
    *     Finite-fence hosts are never trimmed here — fences are
    *     monotone WITHIN an epoch (step 5 is the exception that bumps
    *     the epoch).
    *  2. fresh (robots-gated at insert) joins the post-cut fence view
    *     and ROUTES with no window at all: above-fence rows append to
    *     the wave's backlog delta TAGGED WITH THE HOST'S EPOCH;
    *     everything else goes straight to the head.
    *  3. the per-host accounting aggregate `info` — one row per host
    *     this wave might touch (scheduled, or receiving cut/fresh rows)
    *     with its prior fence, spill count and head count, O(wave work)
    *     rows, not O(hosts) — decides refill, re-cut and banding before
    *     anything is written; state then lands in TWO concurrent writes
    *     (shuffle-free head from cached scans; one small bucketed/banded
    *     spill shuffle).
    *  4. REFILL when the head dropped below the politeness budget:
    *     two-phase banded reads; fences RAISE to the max refilled row.
    *  5. EPOCH'D PER-HOST RE-CUT — the fenced-host head-overgrowth
    *     adversary (discovery persistently emitting better-than-fence
    *     rows grows a head without bound; the fence cannot be lowered
    *     in place without resurrecting stale refill copies). A host
    *     whose head exceeded 2×M is re-cut to M: its live backlog is
    *     REWRITTEN into this wave's delta under epoch+1 together with
    *     the spilled head overflow, and its fence RESETS at the new
    *     top-M boundary with the bumped epoch — every older backlog
    *     row of that host (stale copies included) dies by epoch
    *     mismatch, never by a fence comparison. Costs O(that host's
    *     backlog) when triggered, nothing otherwise; post-wave every
    *     host's head is ≤ 2×M by construction.
    *  6. the wave's FENCE DELTA — one row per touched, refilled or
    *     re-cut host — appends to the fence store; dormant and
    *     merely-draining hosts write NOTHING.
    */
  private def maintainFrontier(ranked: DataFrame, fencePrev: DataFrame,
                               schedPreGate: DataFrame, fresh: DataFrame,
                               saltDropped: DataFrame, hasFences: Boolean, wave: Int,
                               keep: DataFrame => DataFrame): Unit = {
    // a crashed earlier attempt may have left partial subdirs; the
    // wave's state is rebuilt from scratch (invisible until commit)
    val md = new org.apache.hadoop.fs.Path(maintDir(wave))
    val mfs = md.getFileSystem(spark.sessionState.newHadoopConf())
    if (!mfs.delete(md, true) && mfs.exists(md))
      throw new java.io.IOException(s"cannot reset $md")
    bucketDirCache.remove(spillDir(wave))

    val (headRows, spillRows, schedFence) =
      route(ranked, fencePrev, fresh, saltDropped, hasFences, keep)
    val (info, nNeedy, nRecut, nRecutEpoch, bandIt) =
      accounting(headRows, spillRows, schedPreGate, schedFence, fencePrev)
    val (headFinal, spillFinal, recutRows) =
      if (nRecut == 0) (headRows, spillRows, emptyFence)
      else if (nRecut <= cfg.recutCollectMax) recutOnDriver(info, headRows, spillRows, wave, keep)
      else recutDistributed(info, headRows, spillRows, nRecutEpoch > 0, wave, keep)
    val deltaBase = info.filter(col("touched") && !needyCond && !recutCond)
      .select(fcols: _*)
    val recutDelta = recutRows.select(fcols: _*)
    val nDelta =
      if (nNeedy == 0)
        writeState(headFinal, spillFinal, bandIt, wave, Some(deltaBase.unionByName(recutDelta))).get
      else {
        // the fence delta waits for the refill: refilled fences are part
        // of it, and the refill must see this wave's spill dir
        writeState(headFinal, spillFinal, bandIt, wave, None)
        val refilled = refill(info, wave, keep).select(fcols: _*)
        writeFenceDelta(deltaBase.unionByName(refilled).unionByName(recutDelta), wave)
      }
    foldFenceView(fencePrev, hasFences, nDelta, wave)
  }

  /** Route step (scaladoc steps 1–2): the lazy cut from the cached
    * schedule frame, then fresh routing against the POST-CUT fence view.
    * Returns (head rows, spill rows, first-spill fences as host/nfp/nfs),
    * all before any re-cut. */
  private def route(ranked: DataFrame, fencePrev: DataFrame, fresh: DataFrame,
                    saltDropped: DataFrame, hasFences: Boolean,
                    keep: DataFrame => DataFrame): (DataFrame, DataFrame, DataFrame) = {
    val M = headM
    val keepHead = ranked.filter(col("rank_in_host") > col("k_eff") &&
        (col("fp").isNotNull || col("rank_in_host") <= M))
      .select(pcols: _*)
    val schedSpill = ranked.filter(col("fp").isNull && col("rank_in_host") > M)
      .select(pcols: _*)
      // salt-dropped rows are provably outside the per-host top-M
      .unionByName(saltDropped)
      .withColumn("epoch", lit(0)) // a first fence starts at epoch 0
    // first-spill fences: one row per overflowing never-spilled host
    val schedFence = ranked.filter(col("fp").isNull &&
        col("rank_in_host") === M && col("has_next"))
      .select(col("host"), col("priority").as("nfp"), col("surt_key").as("nfs"))
    // a schedFence host was unfenced, so it has NO row in the fence
    // view — the post-cut view is a disjoint UNION
    val fenceRouteNew = schedFence.select(col("host"), col("nfp").as("fp"),
      col("nfs").as("fs"), lit(0).as("epoch"))
    val fenceRoute =
      if (hasFences)
        fencePrev.select(col("host"), col("fp"), col("fs"), col("epoch"))
          .unionByName(fenceRouteNew)
      else fenceRouteNew
    // routed fresh, persisted: head/spill slices, the head write, the
    // accounting aggregate and a possible re-cut all scan it
    val fj = keep(applyRobots(fresh.select(pcols: _*)).join(fenceRoute, Seq("host"), "left"))
    (keepHead.unionByName(fj.filter(!aboveFence).select(pcols: _*)),
      schedSpill.unionByName(fj.filter(aboveFence).select(bcols: _*)),
      schedFence)
  }

  /** Accounting step (scaladoc step 3), ONE job: per-host accounting
    * over the SAME cached frames the writes scan — one row per candidate
    * host (scheduled pre-robots-re-gate, the safe superset, or receiving
    * rows) with prior fence state, this wave's spill count and pre-refill
    * head count. Returns (info, needy hosts, re-cut hosts, epoch-bump
    * re-cut hosts, whether the spill is banded). */
  private def accounting(headRows: DataFrame, spillRows: DataFrame, schedPreGate: DataFrame,
                         schedFence: DataFrame, fencePrev: DataFrame)
      : (DataFrame, Long, Long, Long, Boolean) = {
    // ONE union-aggregate: every broadcast join in a chain of count
    // shuffles and joins is a separate serial driver job. Pure sums keep
    // it a pipelined HashAggregate (a struct max in here would demote
    // the whole 3-way union to a SortAggregate over every head+spill
    // row); the tiny first-fence slice and the prior fence view join
    // onto the result.
    val stats = headRows.select(col("host"), lit(1L).as("hc1"), lit(0L).as("sp1"))
      .unionByName(spillRows.select(col("host"), lit(0L).as("hc1"), lit(1L).as("sp1")))
      .unionByName(schedPreGate.select(col("host"), lit(0L).as("hc1"), lit(0L).as("sp1")))
      .groupBy("host")
      .agg(sum(col("hc1")).as("hc"), sum(col("sp1")).as("spilled"))
    // no broadcast hints: at 10^8 fenced hosts neither side may be
    // forced into the driver; Spark's stats pick BHJ at small scale
    val info0 = stats
      .join(schedFence, Seq("host"), "left")
      .join(fencePrev.select(col("host"), col("fp").as("pfp"),
        col("fs").as("pfs"), col("bn").as("pbn"), col("epoch").as("pep"),
        col("rf").as("prf"), col("rc").as("prc")), Seq("host"), "left")
      .select(col("host"),
        coalesce(col("nfp"), col("pfp")).as("fp"),
        coalesce(col("nfs"), col("pfs")).as("fs"),
        coalesce(col("pep"), lit(0)).as("epoch"),
        coalesce(col("prf"), lit(false)).as("rf"),
        coalesce(col("prc"), lit(0)).as("rc"),
        (coalesce(col("pbn"), lit(0L)) + col("spilled")).as("bn"),
        col("hc"), col("spilled"),
        (col("spilled") > 0L || col("nfp").isNotNull).as("touched"))
    jd("maint:accounting")
    // LAZY localCheckpoint, materialized by the aggregate right below:
    // it truncates the plan to a leaf. Every later step references
    // `info` several times over, and each reference would otherwise
    // embed the ENTIRE schedule/routing subtree again — the per-job
    // plan-description string grows exponentially in chain depth. The
    // blocks die with the wave's frames; a lost executor fails the wave,
    // whose re-run is exact (writes invisible until commit).
    val info = info0.localCheckpoint(false)
    val r = info.agg(
      sum(when(needyCond, 1L).otherwise(0L)),
      sum(when(recutCond, 1L).otherwise(0L)),
      sum(when(recutCond && col("rf"), 1L).otherwise(0L)),
      sum(col("spilled"))).head()
    def n(i: Int): Long = if (r.isNullAt(i)) 0L else r.getLong(i)
    // the spill is banded like the compacted base only when it is big
    // enough for bands to carry real mass (per-dir create+commit is a
    // fixed cost; small deltas collapse into band 0, which phase-A
    // refills always read anyway — superset reads stay exact)
    (info, n(0), n(1), n(2), n(3) > 5000L * cfg.backlogBuckets * (MaxBand + 1))
  }

  /** The re-cut hosts' head rows `hr` cut back to their true top-M
    * through the salted window (overgrown hosts are by definition the
    * hot hosts, exactly where salt matters): (kept top-M rows, overflow
    * rows, new rank-M fences as host/rfp/rfs). */
  private def cutHeads(hr: DataFrame,
                       keep: DataFrame => DataFrame): (DataFrame, DataFrame, DataFrame) = {
    val M = headM
    val (top, dropped) = saltedTopM(hr, "rk", keep)
    val ranked = keep(top)
    (ranked.filter(col("rk") <= M).select(pcols: _*),
      ranked.filter(col("rk") > M).select(pcols: _*).unionByName(dropped),
      ranked.filter(col("rk") === M)
        .select(col("host"), col("priority").as("rfp"), col("surt_key").as("rfs")))
  }

  /** Re-cut step (scaladoc step 5), DRIVER-LITERAL path — the norm, for
    * ≤ recutCollectMax hosts (re-cut hosts are the few Zipf-hot heads of
    * a wave): one tiny collect off the checkpointed accounting leaf
    * replaces five broadcast joins, each a separate serial driver job.
    * Host predicates become InSet literals, per-host epochs a map
    * literal, and the fence delta rows are built ON the driver — the
    * overflow count needs no job at all (it is exactly hc − M). Two
    * prices, chosen per host by `rf`:
    *  - CHEAP (rf=false — never refilled in its current epoch): the
    *    epoch provably holds NO stale backlog copies, so the lowered
    *    fence resurrects nothing; the overflow spills as plain
    *    current-epoch rows and bn grows by exactly that count.
    *  - EPOCH BUMP (rf=true — refill copies may sit in (newFence,
    *    oldFence]): the host's live backlog is rewritten under epoch+1
    *    together with the overflow; every older row dies by epoch
    *    mismatch. Rare — needs refill-then-flood within one epoch.
    * Returns (final head rows, final spill rows, re-cut fence rows). */
  private def recutOnDriver(info: DataFrame, headRows: DataFrame, spillRows: DataFrame,
                            wave: Int, keep: DataFrame => DataFrame)
      : (DataFrame, DataFrame, DataFrame) = {
    jd("maint:recut")
    val M = headM
    val rws = info.filter(recutCond)
      .select("host", "fp", "fs", "epoch", "rf", "rc", "bn", "hc").collect()
    val allHosts = rws.map(_.getString(0)).toSeq
    val expR = rws.filter(_.getBoolean(4))
    val expHosts = expR.map(_.getString(0)).toSeq
    val (keepR, overflowR, newFenceR) = cutHeads(headRows.filter(col("host").isin(allHosts: _*)), keep)
    val epochByHost = rws.map(r => r.getString(0) ->
      (if (r.getBoolean(4)) r.getInt(3) + 1 else r.getInt(3))).toMap
    val spillRecut = overflowR
      .withColumn("epoch", element_at(typedlit(epochByHost), col("host")))
      .select(bcols: _*)
    val (spillEpoch, epochCnt) =
      if (expR.isEmpty) (emptyBacklog, Map.empty[String, Long])
      else {
        // the hosts' live backlog — committed dirs (this wave's spill dir
        // does not exist yet) plus this wave's routed spill for them from
        // the CACHED frame — is rewritten under epoch+1; one recount
        // collect yields the new bn. Bucket ids come from the engine's
        // own hash expression (never re-derive bucketing on the driver).
        val bucketsOf = spark.createDataFrame(
            spark.sparkContext.parallelize(expHosts.map(org.apache.spark.sql.Row(_)), 1),
            org.apache.spark.sql.types.StructType(Seq(
              org.apache.spark.sql.types.StructField("host",
                org.apache.spark.sql.types.StringType))))
          .select(bucketCol.as("b")).collect().map(_.getInt(0)).toSet
        val fenceOf = typedlit(expR.map(r => r.getString(0) ->
          ((r.getInt(1), r.getString(2), r.getInt(3)))).toMap)
        val liveOld = backlogRows(backlogBucketDirs(backlogDirs(wave), bucketsOf))
          .filter(col("host").isin(expHosts: _*))
          .withColumn("__f", element_at(fenceOf, col("host")))
          .withColumn("fp", col("__f._1")).withColumn("fs", col("__f._2"))
          .withColumn("__fe", col("__f._3"))
          .filter(liveBacklogRow)
          .select(pcols: _*)
        val liveNew = spillRows.filter(col("host").isin(expHosts: _*)).select(pcols: _*)
        val nep = typedlit(expR.map(r => r.getString(0) -> (r.getInt(3) + 1)).toMap)
        val rewritten = keep(liveOld.unionByName(liveNew)
          .withColumn("epoch", element_at(nep, col("host")))
          .select(bcols: _*))
        (rewritten, rewritten.groupBy("host").agg(count(lit(1)).as("n"))
          .collect().map(r => r.getString(0) -> r.getLong(1)).toMap)
      }
    val headFinal = headRows.filter(!col("host").isin(allHosts: _*)).unionByName(keepR)
    val spillFinal = (if (expR.nonEmpty) spillRows.filter(!col("host").isin(expHosts: _*))
        else spillRows)
      .unionByName(spillRecut).unionByName(spillEpoch)
    // fence delta rows: everything except the new boundary is
    // driver-built (cheap bn = bn + (hc−M); epoch bn = live recount +
    // (hc−M), under epoch+1); the boundary joins in from the CACHED
    // rank-M slice inside the concurrent delta write — no serial job
    val fenceRows = rws.map { r =>
      val h = r.getString(0)
      val rfFlag = r.getBoolean(4)
      val bnNew =
        if (!rfFlag) r.getLong(6) + (r.getLong(7) - M)
        else epochCnt.getOrElse(h, 0L) + (r.getLong(7) - M)
      org.apache.spark.sql.Row(h, bnNew,
        if (rfFlag) r.getInt(3) + 1 else r.getInt(3), false, r.getInt(5) + 1)
    }
    val localSchema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("host", org.apache.spark.sql.types.StringType),
      org.apache.spark.sql.types.StructField("bn", org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("epoch", org.apache.spark.sql.types.IntegerType),
      org.apache.spark.sql.types.StructField("rf", org.apache.spark.sql.types.BooleanType),
      org.apache.spark.sql.types.StructField("rc", org.apache.spark.sql.types.IntegerType)))
    val recutRows = spark.createDataFrame(
        spark.sparkContext.parallelize(fenceRows.toSeq, 1), localSchema)
      .join(broadcast(newFenceR), Seq("host"))
      .select(col("host"), col("rfp").as("fp"), col("rfs").as("fs"),
        col("bn"), col("epoch"), col("rf"), col("rc"))
    (headFinal, spillFinal, recutRows)
  }

  /** Re-cut step, DISTRIBUTED JOIN path — a wave re-cutting more hosts
    * than the driver should hold (> recutCollectMax); the same semantics
    * as `recutOnDriver`, with host-keyed joins instead of literals.
    * `anyEpoch` tells whether some re-cut host takes the epoch bump.
    * Returns (final head rows, final spill rows, re-cut fence rows). */
  private def recutDistributed(info: DataFrame, headRows: DataFrame, spillRows: DataFrame,
                               anyEpoch: Boolean, wave: Int, keep: DataFrame => DataFrame)
      : (DataFrame, DataFrame, DataFrame) = {
    jd("maint:recut")
    val recutHosts = keep(info.filter(recutCond)
      .select(col("host"), col("fp"), col("fs"), col("epoch"), col("rf"),
        col("rc"), col("bn"), bucketCol.as("bucket")))
    val (keepR, overflowR, newFenceR) =
      cutHeads(headRows.join(recutHosts.select("host"), Seq("host"), "left_semi"), keep)
    val cheap = recutHosts.filter(!col("rf"))
    // cheap overflow keeps the host's CURRENT epoch
    val spillCheap = keep(overflowR
      .join(cheap.select(col("host"), col("epoch").as("nep")), Seq("host"))
      .withColumn("epoch", col("nep")).drop("nep")
      .select(bcols: _*))
    val spillEpoch =
      if (!anyEpoch) emptyBacklog
      else {
        val expens = keep(recutHosts.filter(col("rf")))
        // the hosts' live backlog: committed dirs (epoch-filtered —
        // this wave's spill dir does not exist yet) plus this wave's
        // routed spill for them from the CACHED frame
        val rBuckets = expens.select("bucket").distinct().as[Int].collect().toSet
        val liveOld = backlogLive(backlogBucketDirs(backlogDirs(wave), rBuckets),
            expens.select("host", "fp", "fs", "epoch"))
          .select(pcols: _*)
        val liveNew = spillRows.join(expens.select("host"), Seq("host"), "left_semi")
          .select(pcols: _*)
        keep(overflowR
          .join(expens.select("host"), Seq("host"), "left_semi")
          .unionByName(liveOld).unionByName(liveNew)
          .join(expens.select(col("host"), (col("epoch") + 1).as("nep")), Seq("host"))
          .withColumn("epoch", col("nep")).drop("nep")
          .select(bcols: _*))
      }
    // re-cut hosts' head rows are replaced by their top-M; an
    // epoch-bumped host's routed spill is replaced by its rewritten
    // backlog (cheap hosts' routed spill stands, plus the overflow)
    val headFinal = headRows.join(recutHosts.select("host"), Seq("host"), "left_anti")
      .unionByName(keepR)
    val spillFinal = (if (anyEpoch)
        spillRows.join(recutHosts.filter(col("rf")).select("host"), Seq("host"), "left_anti")
      else spillRows)
      .unionByName(spillCheap).unionByName(spillEpoch)
    val cheapCnt = spillCheap.groupBy("host").agg(count(lit(1)).as("xn"))
    val epochCnt = spillEpoch.groupBy("host").agg(count(lit(1)).as("xn"))
    val cheapRows = cheap.join(newFenceR, Seq("host"))
      .join(cheapCnt, Seq("host"), "left")
      .select(col("host"), col("rfp").as("fp"), col("rfs").as("fs"),
        (col("bn") + coalesce(col("xn"), lit(0L))).as("bn"),
        col("epoch"), lit(false).as("rf"), (col("rc") + 1).as("rc"))
    val epochRows = recutHosts.filter(col("rf")).join(newFenceR, Seq("host"))
      .join(epochCnt, Seq("host"), "left")
      .select(col("host"), col("rfp").as("fp"), col("rfs").as("fs"),
        coalesce(col("xn"), lit(0L)).as("bn"),
        (col("epoch") + 1).as("epoch"), lit(false).as("rf"),
        (col("rc") + 1).as("rc"))
    (headFinal, spillFinal, cheapRows.unionByName(epochRows))
  }

  /** Head/spill/delta write step: ONE write each, re-cut already folded
    * in, submitted together — all sinks read only cached/checkpointed
    * frames and prior waves' dirs. The fence delta is written here when
    * given; returns its row count then. */
  private def writeState(headFinal: DataFrame, spillFinal: DataFrame, bandIt: Boolean,
                         wave: Int, delta: Option[DataFrame]): Option[Long] = {
    val fHead = Frontier.guarded {
      jd("maint:writeHead")
      // narrow coalesce: the union doubles partition count; halve it
      // back so the head dir keeps ~one file per core
      headFinal.coalesce(spark.sparkContext.defaultParallelism)
        .write.mode("overwrite").parquet(headDir(wave))
    }
    val fSpill = Frontier.guarded {
      jd("maint:writeSpill")
      spillFinal.withColumn("bkb", if (bandIt) bkbCol else bucketCol * lit(MaxBand + 1))
        .repartition(col("bkb")) // one file per (bucket, band) dir
        .write.partitionBy("bkb").mode("overwrite").parquet(spillDir(wave))
      // banded stores carry a bounds sidecar so phase-A refills can
      // settle exactly against the unread bands; single-band deltas
      // have no unread rows and need none
      if (bandIt) writeBounds(spillFinal, bandCol, spillDir(wave))
      backlogStore.addDelta(wave)
      bucketDirCache.remove(spillDir(wave))
    }
    val fDelta = delta.map(rows => Frontier.guarded(writeFenceDelta(rows, wave)))
    Await.result(fHead, Duration.Inf)
    Await.result(fSpill, Duration.Inf)
    fDelta.map(Await.result(_, Duration.Inf))
  }

  /** Append the wave's fence delta; returns its row count. */
  private def writeFenceDelta(rows: DataFrame, wave: Int): Long = {
    jd("maint:writeDelta")
    val obs = org.apache.spark.sql.Observation()
    rows.observe(obs, count(lit(1)).as("n"))
      .write.mode("overwrite").parquet(fenceStore.deltaDir(wave))
    fenceStore.addDelta(wave)
    obs.get("n").asInstanceOf[Long]
  }

  /** Refill step (scaladoc step 4) — needy hosts only. TWO-PHASE BANDED
    * read: phase A reads the needy buckets' spill deltas plus only the
    * BAND-0 slice of the compacted base; a host settles there when its
    * full deficit arrives with every taken row strictly better than its
    * best unread row; the rest re-read their buckets whole (phase B).
    * Refilled rows append to the head partition; returns the needy
    * hosts' fence rows. */
  private def refill(info: DataFrame, wave: Int, keep: DataFrame => DataFrame): DataFrame = {
    jd("maint:refill")
    val needy = keep(info.filter(needyCond)
      .select(col("host"), col("fp"), col("fs"), col("epoch"), col("rf"),
        col("rc"), col("bn"),
        (lit(headM.toLong) - col("hc")).as("deficit"), bucketCol.as("bucket")))
    val buckets = needy.select("bucket").distinct().as[Int].collect().toSet
    def liveRanked(dirs: Seq[String], who: DataFrame): DataFrame =
      backlogLive(dirs, who.select("host", "fp", "fs", "epoch", "deficit"))
        .withColumn("rk", row_number().over(hostOrder))
    val rlA = keep(liveRanked(
      backlogBucketDirs(backlogDirs(wave), buckets, bandZeroOnly = true), needy))
    // per-host phase-A outcome: settled iff the full deficit arrived
    // with every taken row strictly better than the host's best row
    // OUTSIDE band 0 (the bkb=-1 bounds sidecars, reduced per host; a
    // host with no bounds row has no unread banded rows at all) — exact
    // at any fence height
    val boundsDirs = backlogBoundsDirs(wave)
    val boundsMin =
      if (boundsDirs.isEmpty) null
      else spark.read.schema(BoundsSchema).parquet(boundsDirs: _*)
        .groupBy("host")
        .agg(min(struct(col("bp").as("p"), col("bs").as("s"))).as("minb"))
    val aAgg = rlA.groupBy("host").agg(
      sum(when(col("rk") <= col("deficit"), 1L).otherwise(0L)).as("takenA"),
      max(when(col("rk") <= col("deficit"),
        struct(col("priority").as("p"), col("surt_key").as("s")))).as("worstA"))
    val settled0 = needy.join(aAgg, Seq("host"), "left")
    val settled = keep((if (boundsMin == null) settled0.withColumn("minb",
        lit(null).cast("struct<p:int,s:string>"))
      else settled0.join(boundsMin, Seq("host"), "left"))
      .select(col("host"), col("deficit"),
        (coalesce(col("takenA"), lit(0L)) === col("deficit") &&
          (col("minb").isNull || col("worstA") < col("minb"))).as("ok")))
    val needyB = keep(needy.join(settled.filter(!col("ok")).select("host"), Seq("host"), "inner"))
    val anyB = !needyB.isEmpty
    val takenARows = rlA
      .join(settled.filter(col("ok")).select("host"), Seq("host"), "inner")
      .filter(col("rk") <= col("deficit"))
      .select(pcols: _*)
    val (takenBRows, bAgg) =
      if (!anyB) (emptyPending, None)
      else {
        val bBuckets = needyB.select("bucket").distinct().as[Int].collect().toSet
        val rlB = keep(liveRanked(backlogBucketDirs(backlogDirs(wave), bBuckets), needyB))
        val agg = rlB.groupBy("host").agg(
          count(lit(1)).as("liveCnt"),
          sum(when(col("rk") <= col("deficit"), 1L).otherwise(0L)).as("takenCnt"),
          max(when(col("rk") <= col("deficit"),
            struct(col("priority").as("p"), col("surt_key").as("s")))).as("mx"))
        (rlB.filter(col("rk") <= col("deficit")).select(pcols: _*), Some(agg))
      }
    // refilled rows APPEND to the head partition (as a subdir of the
    // already-written head dir; needy and re-cut host sets are
    // provably disjoint, so the re-cut fold never touched these)
    takenARows.unionByName(takenBRows)
      .write.mode("overwrite").parquet(headDir(wave) + "/refill")
    // fence/bn updates for the NEEDY hosts only: settled hosts advance
    // arithmetically (bn was exact, deficit rows left); phase-B hosts
    // resync from the rows actually read — exact even if a compaction
    // physically dropped dead rows
    val aFence = rlA
      .join(settled.filter(col("ok")).select("host"), Seq("host"), "inner")
      .filter(col("rk") <= col("deficit"))
      .groupBy("host").agg(
        count(lit(1)).as("takenCntA"),
        max(struct(col("priority").as("p"), col("surt_key").as("s"))).as("mxA"))
    // a refill that TOOK rows plants stale copies in the current epoch —
    // flip rf so a later re-cut of this host knows the cheap
    // fence-lowering is no longer safe (aFence only has hosts with taken
    // rows, so isNotNull == took > 0)
    val withA = needy.join(aFence, Seq("host"), "left")
      .select(col("host"),
        when(col("takenCntA").isNotNull, col("mxA.p")).otherwise(col("fp")).as("fp"),
        when(col("takenCntA").isNotNull, col("mxA.s")).otherwise(col("fs")).as("fs"),
        when(col("takenCntA").isNotNull, col("bn") - col("takenCntA"))
          .otherwise(col("bn")).as("bn"),
        col("epoch"),
        (col("rf") || col("takenCntA").isNotNull).as("rf"), col("rc"))
    bAgg match {
      case None => withA
      case Some(agg) =>
        val adj = needyB.select(col("host"), lit(true).as("isNeedy"))
          .join(agg, Seq("host"), "left")
        withA.join(adj, Seq("host"), "left")
          .select(col("host"),
            when(col("takenCnt").isNotNull && col("takenCnt") > 0, col("mx.p"))
              .otherwise(col("fp")).as("fp"),
            when(col("takenCnt").isNotNull && col("takenCnt") > 0, col("mx.s"))
              .otherwise(col("fs")).as("fs"),
            when(col("isNeedy"),
              coalesce(col("liveCnt"), lit(0L)) - coalesce(col("takenCnt"), lit(0L)))
              .otherwise(col("bn")).as("bn"),
            col("epoch"),
            (col("rf") ||
              (col("takenCnt").isNotNull && col("takenCnt") > 0)).as("rf"),
            col("rc"))
    }
  }

  /** Fence view step (scaladoc step 6): publish the FENCES marker and
    * fold the wave's delta into the in-instance fence view for the next
    * wave (see fenceViewCache): (previous view ∖ delta hosts) ∪ delta,
    * checkpointed to a leaf so the chain never regrows lineage. Skipped
    * (empty view, no job) while the crawl has no fences at all. */
  private def foldFenceView(fencePrev: DataFrame, hasFences: Boolean, nDelta: Long,
                            wave: Int): Unit = {
    markers.delete(s"FENCES-$wave.m")
    // fences are monotone: once any host is fenced the marker stays
    if (hasFences || nDelta > 0L)
      markers.publish(s"FENCES-$wave.m", "{}")
    if (!hasFences && nDelta == 0L) fenceViewCache.set((wave, emptyFence))
    else {
      jd("maint:fenceView")
      val deltaDf = spark.read.schema(FenceSchema)
        .parquet(fenceStore.deltaDir(wave))
      fenceViewCache.set((wave, fencePrev
        .join(deltaDf.select(col("host")), Seq("host"), "left_anti")
        .unionByName(deltaDf)
        .localCheckpoint()))
    }
  }

  /** Seen-membership probe: the fresh (never-seen) subset of `urls`
    * (url, priority) as of the latest committed wave — the wave's
    * subtraction step standalone (in-batch deduped, like the wave).
    * Shuffles O(probe urls) only; each task loads its shard's level
    * files directly. */
  def freshOnly(urls: DataFrame): DataFrame = {
    val prev = latestCommittedWave()
    require(prev >= 0, "frontier not initialized")
    subtractSeen(
      canonicalized(urls).select("surt_key", "canonical_url", "host", "priority"),
      readIndex(prev))
  }

  def scheduledDf(wave: Int): DataFrame = spark.read.parquet(dir("scheduled", s"wave=$wave"))
  /** FULL pending frontier as of `wave` (head ∪ live backlog) — the
    * observability/oracle view. Wave scheduling itself never touches
    * this; exposing it lets wave+1's schedule be re-derived from the
    * complete pending set and compared against the head-only schedule
    * — i.e. the oracle CHECKS the queue-head invariant. O(pending)
    * read; valid for waves ≥ latestCommitted−1 (older head/fence dirs
    * are pruned). */
  def pendingDf(wave: Int): DataFrame =
    headDf(wave).unionByName(
      backlogLive(backlogBucketDirs(backlogDirs(wave)),
          fenceDf(wave).select("host", "fp", "fs", "epoch"))
        .select("surt_key", "canonical_url", "host", "priority"))
  /** Per-host queue-head table as of `wave` (the rows wave+1's
    * scheduling actually consults). */
  def headTableDf(wave: Int): DataFrame = headDf(wave)
  /** Per-host fence/backlog accounting as of `wave`. */
  def fenceTableDf(wave: Int): DataFrame = fenceDf(wave)
  /** Full seen membership as of `wave` (union of committed deltas). */
  def seenDf(wave: Int): DataFrame = seenUpTo(wave)
  def metricsDf(wave: Int): DataFrame = spark.read.parquet(dir("metrics", s"wave=$wave"))
}

object Frontier {

  /** Small shared pool for concurrent state-write job submission (the
    * jobs themselves run on the cluster; these threads only block on
    * job completion). */
  private[frontier] lazy val stateWriteEc: scala.concurrent.ExecutionContextExecutorService =
    scala.concurrent.ExecutionContext.fromExecutorService(
      java.util.concurrent.Executors.newFixedThreadPool(8, r => {
        val t = new Thread(r, "frontier-state-write")
        t.setDaemon(true)
        t
      }))

  /** Submit `body` on the state-write pool with a promise completed on
    * ANY Throwable. `Future {}` treats VirtualMachineError as fatal and
    * never completes its promise, so a driver-side OOM inside a state
    * write would leave the wave's `Await.result(_, Inf)` parked forever
    * — a silent crawl hang. A wave must fail LOUDLY instead: its writes
    * are invisible until the commit manifest, so propagating the error
    * is safe and a re-run reproduces the wave. */
  private[frontier] def guarded[T](body: => T): scala.concurrent.Future[T] = {
    val p = scala.concurrent.Promise[T]()
    stateWriteEc.execute { () =>
      try { p.success(body); () } catch { case t: Throwable => p.failure(t); () }
    }
    p.future
  }

  /** `a < b` in Unicode CODE-POINT order — identical to UTF-8 binary
    * order (UTF-8 preserves code-point order), which is what Spark's
    * UTF8String-backed `min` compares. Java String `<` compares UTF-16
    * code units, which inverts supplementary-plane vs U+E000–U+FFFF;
    * the fix-up below remaps the first differing units so surrogates
    * (and therefore supplementary code points) sort last — the
    * standard O(1)-after-common-prefix UTF-16-as-UTF-8 comparison.
    * (Known limit, shared with any code-point comparator: ILL-FORMED
    * strings — lone surrogates — sort here by their would-be code
    * point, whereas UTF8String encodes them as `?`; canonicalized
    * URLs are well-formed, so the divergence is unreachable from the
    * wave path.) */
  private[frontier] def codePointLess(a: String, b: String): Boolean = {
    val n = math.min(a.length, b.length)
    var i = 0
    while (i < n && a.charAt(i) == b.charAt(i)) i += 1
    if (i == n) return a.length < b.length
    var ca = a.charAt(i).toInt
    var cb = b.charAt(i).toInt
    if (ca >= 0xd800 && cb >= 0xd800) {
      ca += (if (ca < 0xe000) 0x2000 else -0x800)
      cb += (if (cb < 0xe000) 0x2000 else -0x800)
    }
    ca < cb
  }

  /** Relative level path → absolute Hadoop path under `shards/`. */
  private[frontier] def levelPath(ckDir: String, rel: String): org.apache.hadoop.fs.Path =
    new org.apache.hadoop.fs.Path(ckDir, s"shards/$rel")

  private val LevelName = ".*-n(\\d+)\\.lvl".r

  /** Level key count parsed from the filename — merge decisions need
    * no reads. */
  private[frontier] def levelCountFromPath(rel: String): Int = rel match {
    case LevelName(n) => n.toInt
    case _            => throw new IllegalArgumentException(s"bad level path: $rel")
  }

  /** Unwrap local-fs checksum wrapping for marker files: tests (and
    * operators) delete markers through plain java.nio, which would
    * strand `.crc` sidecars and fail later checksum reads. Non-local
    * filesystems pass through untouched. */
  private[frontier] def rawFs(p: org.apache.hadoop.fs.Path,
                              conf: org.apache.hadoop.conf.Configuration)
      : org.apache.hadoop.fs.FileSystem =
    p.getFileSystem(conf) match {
      case c: org.apache.hadoop.fs.ChecksumFileSystem => c.getRawFileSystem
      case fs                                         => fs
    }

  /** Executor-side level read (direct storage access, not a shuffle).
    * `conf` is the broadcast SESSION Hadoop conf — session-supplied fs
    * settings (`spark.hadoop.*` auth) must reach task-side reads too,
    * not only driver-side index I/O. */
  private[frontier] def loadLevel(ckDir: String, rel: String,
                                  conf: org.apache.hadoop.conf.Configuration)
      : SeenFilter.LevelProbe = {
    val p = levelPath(ckDir, rel)
    val in = p.getFileSystem(conf).open(p)
    try SeenFilter.parseLevel(in.readAllBytes()) finally in.close()
  }

  /** Executor-side level write: temp file + rename, deterministic name
    * `wave=<w>/s<shard>-n<count>.lvl` (one level per (wave, shard)).
    * Task retries and wave re-runs produce byte-identical content, so
    * any interleave of attempts converges on the same file. Returns
    * the relative path for the index. */
  private[frontier] def storeLevel(ckDir: String, wave: Int, shard: Int,
                                   bytes: Array[Byte], count: Int,
                                   conf: org.apache.hadoop.conf.Configuration,
                                   prefix: String = "s"): String = {
    val rel = f"wave=$wave/$prefix$shard%05d-n$count%010d.lvl"
    val p = levelPath(ckDir, rel)
    val fs = p.getFileSystem(conf)
    fs.mkdirs(p.getParent)
    val tmp = new org.apache.hadoop.fs.Path(p.getParent,
      s".${p.getName}.tmp-${java.util.UUID.randomUUID()}")
    val out = fs.create(tmp, true)
    try out.write(bytes) finally out.close()
    // NO delete-before-rename: a zombie attempt deleting a published
    // file and dying pre-rename would leave a committed index pointing
    // at nothing. Rename only; if it fails because another attempt
    // already published (identical deterministic bytes), that IS
    // success.
    if (!fs.rename(tmp, p)) {
      fs.delete(tmp, false)
      require(fs.exists(p), s"level write lost: $p")
    }
    rel
  }

  /** Seed list extracted from the images table (north rule: the frontier
    * runs OVER the image+caption corpus): each caption carries a URL
    * token; priority derives from the perceptual hash so identical
    * images crawl at identical priority. */
  def seedsFromImages(images: DataFrame): DataFrame =
    images.select(
      regexp_extract(col("caption"), "(https?://\\S+)", 1).as("url"),
      pmod(col("phash"), lit(100)).cast("int").as("priority"))
      .filter(length(col("url")) > 0)

  /** Deterministic seed list synthesized from the images/documents
    * tables (no external data): URL-shaped strings exercising every SURT
    * category (www prefixes, ports, query sort, %-encoding). */
  def syntheticSeeds(spark: SparkSession, n: Int, seed: Long = 42L,
                     hostPool: Int = 200): DataFrame = {
    import spark.implicits._
    spark.range(n).map { i =>
      val h = SeenFilter.hashKey(s"seed:$seed:$i")
      val u = (java.lang.Math.floorMod(h, 1000000L)) / 1000000.0
      val hostId = (hostPool * u * u * u).toInt
      val www = if (i % 3 == 0) "www." else if (i % 7 == 0) "www2." else ""
      val port = if (i % 11 == 0) ":8443" else ""
      val q = if (i % 2 == 0) s"?b=$i&a=${i % 10}" else ""
      (s"https://${www}host$hostId.example.org$port/seed/$i$q",
        java.lang.Math.floorMod(h, 100L).toInt)
    }.toDF("url", "priority")
  }
}
