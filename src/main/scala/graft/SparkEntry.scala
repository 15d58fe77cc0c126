package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.operators._

/** Driver contract: `queries` (one per operator) + `oracleSql` (DuckDB
  * equivalents, same column names, deterministic order). See SURVEY.md
  * §7. Every query takes (spark, sfDir) and reads the driver-generated
  * parquet tables. */
object SparkEntry {

  private def t(dir: String, name: String)(implicit spark: SparkSession): DataFrame =
    spark.read.parquet(s"$dir/$name.parquet")

  /** Fixed staging dir for constructed corpora that the DuckDB oracle
    * must see verbatim (values not SQL-computable, e.g. WARC digests):
    * the query writes parquet here and BOTH engines read it back. */
  val StageDir = "/tmp/graft_oracle_stage"

  /** Flagship: WARC corpus synthesized from the documents table →
    * serialized (write path) → parsed back (scan) → CDX-indexed, as one
    * distributed query. Exercises writer, framing, digests, pairing and
    * SURT end-to-end. */
  def entry(spark: SparkSession): DataFrame =
    warcRoundTripCdx(spark, "/root/testdata/sf0.001")

  def warcRoundTripCdx(spark0: SparkSession, dir: String): DataFrame = {
    implicit val spark: SparkSession = spark0
    import spark.implicits._
    // the documents table is ONE small parquet file → a single scan
    // task; the per-row work here (gzip serialize + reparse) is the
    // query's whole cost, so spread it across the session's cores
    // (row values are partition-independent; output order is fixed by
    // the final sort)
    val docs = t(dir, "documents").select($"doc_id".cast("long"), $"text", $"source")
      .repartition(spark.sparkContext.defaultParallelism)
    val cdx = docs.as[(Long, String, String)].mapPartitions { it =>
      it.flatMap { case (docId, text, source) =>
        // deterministic mini-capture: request+response pair per doc
        val url = s"https://www.$source.example.com/doc/$docId?b=2&a=1"
        val date = f"2020-01-01T00:${(docId / 60) % 60}%02d:${docId % 60}%02dZ"
        val body = text.getBytes(java.nio.charset.StandardCharsets.UTF_8)
        val resp = graft.core.WarcWriter.create(
          url = url, date = date, warcType = "response",
          httpHeaders = Seq("Content-Type" -> "text/plain"),
          payload = body, recordId = f"00000000-0000-0000-0000-${docId}%012d")
        val req = graft.core.WarcWriter.create(
          url = url, date = date, warcType = "request",
          httpHeaders = Seq("User-Agent" -> "graft-test"),
          statusline = s"GET /doc/$docId HTTP/1.1",
          recordId = f"00000000-0000-0000-0001-${docId}%012d")
        val bytes = graft.core.WarcWriter.serialize(resp, graft.core.WarcWriter.CdxDigest, gzip = true) ++
          graft.core.WarcWriter.serialize(req, graft.core.WarcWriter.CdxDigest, gzip = true)
        val records = graft.core.WarcStreaming.parseStream(
          new java.io.ByteArrayInputStream(bytes), s"doc$docId.warc.gz", isGzip = true)
        graft.core.CdxIndexing.pairRecords(records).flatMap(CdxPipeline.toCdxRow)
      }
    }
    cdx.toDF().orderBy($"urlkey", $"timestamp", $"filename")
  }

  // =================================================================
  // Query suite. Column names MUST match oracleSql aliases.
  // =================================================================

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // ---- scans / filters / projections -----------------------------
    "q01_agg" -> ((s, dir) => { implicit val sp = s; import sp.implicits._
      t(dir, "lineitem")
        .groupBy($"l_returnflag", $"l_linestatus")
        .agg(
          sum($"l_quantity").as("sum_qty"),
          round(sum($"l_extendedprice" * (lit(1) - $"l_discount")), 4).as("revenue"),
          count(lit(1)).as("n_rows"))
        .orderBy($"l_returnflag", $"l_linestatus")
    }),
    "q02_join_agg" -> ((s, dir) => { implicit val sp = s; import sp.implicits._
      val li = t(dir, "lineitem"); val o = t(dir, "orders")
      val c = t(dir, "customer"); val n = t(dir, "nation")
      li.join(o, $"l_orderkey" === $"o_orderkey")
        .join(c, $"o_custkey" === $"c_custkey")
        .join(broadcast(n), $"c_nationkey" === $"n_nationkey")
        .groupBy($"n_name")
        .agg(round(sum($"l_extendedprice" * (lit(1) - $"l_discount")), 4).as("revenue"),
          count(lit(1)).as("n_items"))
        .orderBy($"n_name")
    }),
    "q03_filter_project" -> ((s, dir) => { implicit val sp = s; import sp.implicits._
      t(dir, "events")
        .filter($"event_type".isin("purchase", "signup") && $"value" > 50.0)
        .select($"event_id", $"user_id", $"event_type", round($"value", 4).as("value"))
        .orderBy($"event_id")
    }),
    // ---- J1-analog: adjacent pairing via lag window ----------------
    "q04_adjacent_pair" -> ((s, dir) => { implicit val sp = s; import sp.implicits._
      val w = Window.partitionBy($"user_id").orderBy($"ts", $"event_id")
      t(dir, "events")
        .withColumn("prev_type", lag($"event_type", 1).over(w))
        .withColumn("prev_id", lag($"event_id", 1).over(w))
        .filter($"event_type" === "purchase" && $"prev_type" === "view")
        .select($"user_id", $"prev_id".as("view_id"), $"event_id".as("purchase_id"))
        .orderBy($"user_id", $"purchase_id")
    }),
    // ---- W2-analog: running totals ---------------------------------
    "q05_running_window" -> ((s, dir) => { implicit val sp = s; import sp.implicits._
      val w = Window.partitionBy($"o_custkey").orderBy($"o_orderdate", $"o_orderkey")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      t(dir, "orders")
        .withColumn("running_total", round(sum($"o_totalprice").over(w), 4))
        .select($"o_custkey", $"o_orderkey", $"running_total")
        .orderBy($"o_custkey", $"o_orderkey")
    }),
    // ---- frontier queue-head analog: top-k per group ---------------
    "q06_topk_group" -> ((s, dir) => { implicit val sp = s; import sp.implicits._
      val w = Window.partitionBy($"o_custkey").orderBy($"o_totalprice".desc, $"o_orderkey")
      t(dir, "orders")
        .withColumn("rk", row_number().over(w))
        .filter($"rk" <= 3)
        .select($"o_custkey", $"o_orderkey", round($"o_totalprice", 4).as("o_totalprice"), $"rk")
        .orderBy($"o_custkey", $"rk")
    }),
    "q07_sort_limit" -> ((s, dir) => { implicit val sp = s; import sp.implicits._
      t(dir, "lineitem")
        .select($"l_orderkey", $"l_linenumber", round($"l_extendedprice", 4).as("l_extendedprice"))
        .orderBy($"l_extendedprice".desc, $"l_orderkey", $"l_linenumber")
        .limit(100)
    }),
    // ---- A1-analog: content digests --------------------------------
    "q08_sha256" -> ((s, dir) => { implicit val sp = s; import sp.implicits._
      t(dir, "documents")
        .select($"doc_id", sha2($"text".cast("binary"), 256).as("digest"))
        .orderBy($"doc_id")
    }),
    // ---- dedup: exact ----------------------------------------------
    "q09_dedup_exact" -> ((s, dir) => { implicit val sp = s; import sp.implicits._
      Dedup.exact(t(dir, "documents"), "doc_id", "text")
        .orderBy($"content_hash")
    }),
    // ---- token counting --------------------------------------------
    "q10_tokens" -> ((s, dir) => { implicit val sp = s; import sp.implicits._
      t(dir, "documents")
        .select($"doc_id", TextAnalysis.wsTokenCount($"text").as("n_tokens"))
        .orderBy($"doc_id")
    }),
    // ---- quality scoring -------------------------------------------
    "q11_quality" -> ((s, dir) => { implicit val sp = s; import sp.implicits._
      TextAnalysis.qualityFeatures(t(dir, "documents"), "doc_id", "text")
        .select($"doc_id", $"n_chars", $"n_words",
          round($"alpha_ratio", 6).as("alpha_ratio"),
          round($"punct_ratio", 6).as("punct_ratio"),
          round($"stopword_ratio", 6).as("stopword_ratio"))
        .orderBy($"doc_id")
    }),
    // ---- sessionization (gap rule) ---------------------------------
    "q12_sessionize" -> ((s, dir) => { implicit val sp = s; import sp.implicits._
      val w = Window.partitionBy($"user_id").orderBy($"ts", $"event_id")
      t(dir, "events")
        .withColumn("prev_ts", lag($"ts", 1).over(w))
        .withColumn("new_session",
          when($"prev_ts".isNull || unix_timestamp($"ts") - unix_timestamp($"prev_ts") > 1800, 1).otherwise(0))
        .groupBy($"user_id")
        .agg(sum($"new_session").as("n_sessions"), count(lit(1)).as("n_events"))
        .orderBy($"user_id")
    }),
    // ---- JSON projection -------------------------------------------
    "q13_json" -> ((s, dir) => { implicit val sp = s; import sp.implicits._
      t(dir, "events")
        .select($"event_type", get_json_object($"props", "$.k").cast("long").as("k"))
        .groupBy($"event_type")
        .agg(sum($"k").as("sum_k"), count(lit(1)).as("n"))
        .orderBy($"event_type")
    }),
    // ---- seen-set analog: anti/semi joins --------------------------
    "q14_anti_join" -> ((s, dir) => { implicit val sp = s; import sp.implicits._
      // seen-set analog: customers with NO high-value order
      val c = t(dir, "customer")
      val o = t(dir, "orders").filter($"o_totalprice" > 300000.0)
      c.join(o, $"c_custkey" === $"o_custkey", "left_anti")
        .select($"c_custkey", $"c_name")
        .orderBy($"c_custkey")
    }),
    "q15_semi_join" -> ((s, dir) => { implicit val sp = s; import sp.implicits._
      val c = t(dir, "customer"); val o = t(dir, "orders")
      c.join(o, $"c_custkey" === $"o_custkey", "left_semi")
        .select($"c_custkey", $"c_mktsegment")
        .orderBy($"c_custkey")
    }),
    // ---- distinct / set --------------------------------------------
    "q16_distinct" -> ((s, dir) => { implicit val sp = s; import sp.implicits._
      t(dir, "events")
        .select($"user_id", $"event_type").distinct()
        .groupBy($"event_type").agg(count(lit(1)).as("n_users"))
        .orderBy($"event_type")
    }),
    // ---- P7: SURT over URL-shaped strings --------------------------
    "q17_surt" -> ((s, dir) => { implicit val sp = s; import sp.implicits._
      t(dir, "documents")
        .select($"doc_id",
          concat(lit("https://www."), $"source", lit(".example.com/d/"), $"doc_id",
            lit("?b=2&a=1")).as("url"))
        .select($"doc_id", Functions.surt($"url").as("urlkey"))
        .orderBy($"doc_id")
    }),
    // ---- stats -----------------------------------------------------
    "q18_stats" -> ((s, dir) => { implicit val sp = s; import sp.implicits._
      t(dir, "documents")
        .groupBy($"source")
        .agg(count(lit(1)).as("n_docs"),
          round(avg($"n_chars"), 4).as("avg_chars"),
          min($"n_chars").as("min_chars"),
          max($"n_chars").as("max_chars"))
        .orderBy($"source")
    }),
    // ---- ANN: brute-force cosine top-k (oracle-checked) ------------
    "q19_cosine_topk" -> ((s, dir) => { implicit val sp = s; import sp.implicits._
      val e = t(dir, "embeddings")
      val q = e.filter($"vec_id" === 0).select($"embedding".as("qv"))
      e.filter($"vec_id" =!= 0)
        .crossJoin(broadcast(q))
        .select($"vec_id",
          round(Similarity.cosineCol($"embedding".cast("array<double>"), $"qv".cast("array<double>")), 4).as("cosine"))
        .orderBy($"cosine".desc, $"vec_id")
        .limit(10)
    }),
    "q20_lang_dist" -> ((s, dir) => { implicit val sp = s; import sp.implicits._
      t(dir, "documents")
        .groupBy($"lang").agg(count(lit(1)).as("n"), sum($"n_chars").as("total_chars"))
        .orderBy($"lang")
    }),

    // ======= staged-corpus oracles: the query writes its exact
    // ======= intermediate table to StageDir; DuckDB re-derives the
    // ======= output from that staged copy independently in SQL.
    "q21_minhash_pairs" -> ((s, dir) => { implicit val sp = s; import sp.implicits._
      // stage the signature table; the LSH band join + in-bucket verify
      // is re-derived in SQL over the staged copy (positional band/sig
      // equality), so the pair-generation logic is oracle-checked
      // repartition: one small parquet file would run the signature
      // UDF on a single task (values are row-local; staged CONTENT is
      // unchanged, only file layout)
      val sigs = Dedup.minhashSignatures(
        t(dir, "documents").repartition(sp.sparkContext.defaultParallelism),
        "doc_id", "text")
      sigs.write.mode("overwrite").parquet(StageDir + "/q21_minhash_sigs.parquet")
      Dedup.minhashPairsFromSignatures(
          sp.read.parquet(StageDir + "/q21_minhash_sigs.parquet"), threshold = 0.3)
        .select($"id_a", $"id_b", round($"est_jaccard", 4).as("est_jaccard"))
        .orderBy($"id_a", $"id_b")
    }),
    "q22_simhash_pairs" -> ((s, dir) => { implicit val sp = s; import sp.implicits._
      // near-dup corpus: every doc + a lightly mutated copy (one word
      // appended) — simhash at small hamming distance must pair them.
      // Pigeonhole banding has recall EXACTLY 1 at distance ≤ maxDist,
      // so the output equals the all-pairs hamming join the oracle runs
      // over the staged simhash table.
      val docs = t(dir, "documents").select($"doc_id", $"text")
      val mutated = docs.select(($"doc_id" + 1000000).as("doc_id"),
        concat($"text", lit(" zzextra")).as("text"))
      val hashes = Dedup.simhashes(docs.unionByName(mutated), "doc_id", "text")
      hashes.write.mode("overwrite").parquet(StageDir + "/q22_simhash.parquet")
      Dedup.hammingPairs(
          sp.read.parquet(StageDir + "/q22_simhash.parquet"), "id", "sh", maxDist = 3)
        .orderBy($"id_a", $"id_b")
    }),
    "q23_fingerprint" -> ((s, dir) => { implicit val sp = s; import sp.implicits._
      // stage the per-position k-gram rolling hashes; the oracle
      // re-derives the winnowing selection (window min, rightmost tie,
      // consecutive dedup) in SQL. hsort flips the sign bit so signed
      // SQL ordering equals the kernel's unsigned comparison.
      // repartition: the k-gram explosion (~300 rows/doc) and the
      // winnowing UDF otherwise run on the single scan task
      val docs = t(dir, "documents").select($"doc_id".cast("long"), $"text")
        .repartition(sp.sparkContext.defaultParallelism).as[(Long, String)]
      val kg = docs.flatMap { case (id, txt) =>
        TextAnalysis.kgramHashes(txt, 8).iterator.zipWithIndex.map {
          case (h, i) => (id, i, h, h ^ Long.MinValue) }
      }.toDF("doc_id", "pos", "h", "hsort")
      kg.write.mode("overwrite").parquet(StageDir + "/q23_kgrams.parquet")
      val fpU = udf((txt: String) => {
        val a = TextAnalysis.winnowingFingerprint(txt, 8, 16)
        (a.length, if (a.isEmpty) 0L else a.min, if (a.isEmpty) 0L else a.max)
      })
      docs.toDF("doc_id", "text")
        .select($"doc_id", fpU($"text").as("f"))
        .select($"doc_id", $"f._1".as("n_fp"), $"f._2".as("fp_min"), $"f._3".as("fp_max"))
        .orderBy($"doc_id")
    }),
    "q24_langid_pred" -> ((s, dir) => { implicit val sp = s; import sp.implicits._
      TextAnalysis.langId(t(dir, "documents"), "doc_id", "text")
        .select($"doc_id", $"lang_pred", round($"lang_conf", 4).as("lang_conf"))
        .orderBy($"doc_id")
    }),
    // write→scan→pair round trip; oracle checks the SQL-derivable CDX
    // fields survive the full pipeline (digest/offset byte goldens live
    // in the fixture suite — sha1-base32 is not SQL-computable)
    "q25_warc_cdx" -> ((s, dir) => { implicit val sp = s; import sp.implicits._
      warcRoundTripCdx(s, dir)
        .select($"urlkey", $"timestamp", $"url", $"mime", $"status",
          length($"digest").as("digest_len"), $"filename")
        .orderBy($"urlkey", $"timestamp")
    }),
    // full probe (nprobe = nlist) reduces IVF to exact top-k → DuckDB
    // oracle; the approximate nprobe<nlist recall path is covered by
    // SimilaritySpec
    "q26_ann_ivf" -> ((s, dir) => { implicit val sp = s; import sp.implicits._
      val e = t(dir, "embeddings")
      val qv = e.filter($"vec_id" === 0).select($"embedding").head().getSeq[Float](0).toArray
      // kmeansIters = 0 (deterministic hash-sample seeding): with
      // nprobe = nlist the probe is FULL, so the top-k output is the
      // exact cosine ranking regardless of the coarse quantizer — the
      // 5 Lloyd rounds were 5 driver collect jobs buying nothing here.
      // The trained-quantizer path stays covered by SimilaritySpec.
      val (indexed, centroids) = Similarity.ivfAssign(e.filter($"vec_id" =!= 0), "vec_id", "embedding",
        nlist = 16, kmeansIters = 0)
      Similarity.ivfTopK(indexed, centroids, "vec_id", "embedding", qv, k = 10, nprobe = 16)
        .select($"vec_id", round($"cosine", 4).as("cosine"))
        .orderBy($"cosine".desc, $"vec_id")
    }),
    "q27_ngram_jaccard" -> ((s, dir) => { implicit val sp = s; import sp.implicits._
      Dedup.ngramJaccardPairs(
        t(dir, "documents").repartition(sp.sparkContext.defaultParallelism),
        "doc_id", "text", n = 3, threshold = 0.3)
        .select($"id_a", $"id_b", round($"jaccard", 4).as("jaccard"))
        .orderBy($"id_a", $"id_b")
    }),
    "q28_embed_neardup" -> ((s, dir) => { implicit val sp = s; import sp.implicits._
      // near-dup corpus: every vector + a same-direction copy (scaled
      // 1.001x ⇒ cosine 1) — LSH bucketing must pair originals+copies.
      // The corpus is STAGED and the oracle recomputes the all-pairs
      // cosine join from it (same-direction pairs have identical LSH
      // signatures, so recall is exactly 1 for them; the corpus' max
      // cross-pair cosine is ~0.51, far under the 0.95 threshold).
      val e = t(dir, "embeddings").select($"vec_id", $"embedding")
      val copies = e.select(($"vec_id" + 1000000).as("vec_id"),
        transform($"embedding", x => x * lit(1.001f)).as("embedding"))
      e.unionByName(copies)
        .write.mode("overwrite").parquet(StageDir + "/q28_vectors.parquet")
      Dedup.embeddingPairs(sp.read.parquet(StageDir + "/q28_vectors.parquet"),
        "vec_id", "embedding", cosThreshold = 0.95)
        .select($"id_a", $"id_b", round($"cosine", 4).as("cosine"))
        .orderBy($"id_a", $"id_b")
    }),
    // ---- north-rule frontier: one full wave over synthetic seeds.
    // The wave-1 pending state (the exact input of wave 2's scheduling)
    // is staged with the robots hash precomputed; the oracle re-derives
    // robots filtering + the per-host politeness budget + the output
    // ordering in SQL — so the two-phase salted top-K must equal the
    // plain per-host window it optimizes.
    "q29_frontier_wave" -> ((s, dir) => { implicit val sp = s; import sp.implicits._
      // Scratch: deleted at JVM exit (the returned DataFrame lazily
      // reads this checkpoint, so it must outlive the query)
      val ck = Scratch.dir("frontier-q29").toString
      val cfg = graft.frontier.FrontierConfig(checkpointDir = ck, hostBudget = 5,
        seenShards = 16)
      val f = new graft.frontier.Frontier(sp, cfg)
      val n = t(dir, "documents").count().toInt.max(100)
      f.initialize(graft.frontier.Frontier.syntheticSeeds(sp, n))
      f.runWave()
      val hm5 = udf((h: String) =>
        java.lang.Math.floorMod(graft.frontier.SeenFilter.hashKey(h), 5L))
      f.pendingDf(1)
        .select($"surt_key", $"canonical_url", $"host", $"priority", hm5($"host").as("hm5"))
        .write.mode("overwrite").parquet(StageDir + "/q29_pending.parquet")
      f.runWave()
      f.scheduledDf(2)
        .select($"host", $"surt_key", $"priority", $"rank_in_host")
        .orderBy($"priority", $"host", $"surt_key")
    }),
    // ---- multimodal: image decode through the real ImageIO path; the
    // synthesized metadata (image_id, w, h) is staged and the oracle
    // checks the decoded dimensions match it row-for-row (mean/PSNR and
    // phash invariants live in ImageSpec — not SQL-computable)
    "q30_image_features" -> ((s, dir) => { implicit val sp = s; import sp.implicits._
      val n = t(dir, "documents").count()
      // persisted: the metadata staging and the decode pass would
      // otherwise each re-render every image
      val images = graft.frontier.ImageSynth.imagesTable(sp, n)
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      images.select($"image_id", $"w", $"h")
        .write.mode("overwrite").parquet(StageDir + "/q30_image_meta.parquet")
      Multimodal.imageFeatures(images).toDF()
        .select($"image_id", $"w", $"h", $"decode_ok")
        .orderBy($"image_id")
    }),
    // ---- multimodal: perceptual-hash near-dup over images. The phash
    // table is staged; pigeonhole banding (chunks = maxDist+1) has
    // recall exactly 1 at ANY maxDist, so the oracle's all-pairs
    // hamming join over the staged copy must equal the bucketed
    // pipeline's output — checked at the operator's DEFAULT maxDist=6.
    "q31_image_neardup" -> ((s, dir) => { implicit val sp = s; import sp.implicits._
      val n = t(dir, "documents").count()
      // makeRow is pure and this corpus repeats 50 base images — a
      // per-partition memo renders+encodes each base once instead of
      // once per row (identical rows; only redundant work removed)
      val images = sp.range(n).mapPartitions { it =>
        val cache = scala.collection.mutable.LongMap.empty[graft.frontier.ImageSynth.ImageRow]
        it.map { i =>
          cache.getOrElseUpdate(i % 50, graft.frontier.ImageSynth.makeRow(42L, i % 50))
            .copy(image_id = f"img$i%08d")
        }
      }.toDF()
      val ph = Multimodal.imageFeatures(images).toDF()
        .filter($"decode_ok").select($"image_id", $"phash")
      ph.write.mode("overwrite").parquet(StageDir + "/q31_phash.parquet")
      Dedup.hammingPairs(
          sp.read.parquet(StageDir + "/q31_phash.parquet"), "image_id", "phash", maxDist = 6)
        .orderBy($"id_a", $"id_b")
    }),
    // ---- streaming: watermarked windowed agg over events (AvailableNow)
    "q33_stream_window" -> ((s, dir) => { implicit val sp = s; import sp.implicits._
      val schema = sp.read.parquet(s"$dir/events.parquet").schema
      // the file-stream source wants a directory: stage the table file
      val stage = Scratch.dir("q33-events")
      java.nio.file.Files.copy(java.nio.file.Paths.get(s"$dir/events.parquet"),
        stage.resolve("events.parquet"))
      val stream = sp.readStream.schema(schema).parquet(stage.toString)
        .withColumn("ts", $"ts".cast("timestamp")) // NTZ → event-time type
      val windowed = graft.streaming.Streams.windowedEventCounts(stream)
      val name = "q33_mem_" + java.util.UUID.randomUUID().toString.replace("-", "")
      graft.streaming.Streams.runAvailableNowComplete(windowed, name)
        .select($"window_start", $"event_type", $"n", round($"sum_value", 4).as("sum_value"))
        .orderBy($"window_start", $"event_type")
    }),
    // ---- ANN batch top-k (broadcast queries + per-group window) ------
    "q34_batch_topk" -> ((s, dir) => { implicit val sp = s; import sp.implicits._
      val e = t(dir, "embeddings")
      val queries = e.filter($"vec_id" < 3)
      val corpus = e.filter($"vec_id" >= 3)
      Similarity.batchTopK(corpus, "vec_id", "embedding", queries, "vec_id", "embedding", k = 5)
        .select($"qid", $"cid", round($"cosine", 4).as("cosine"), $"rank")
        .orderBy($"qid", $"rank")
    }),
    // ---- north rule: frontier seeded FROM the images+caption table.
    // Same staged-pending oracle pattern as q29 (wave 1 from pending 0).
    "q35_frontier_from_images" -> ((s, dir) => { implicit val sp = s; import sp.implicits._
      val n = t(dir, "documents").count()
      // seed projection of the images table: seedsFromImages reads only
      // caption+phash, so the opaque generator's unused byte-encode is
      // pruned by hand (identical column values — see imageSeedTable)
      val images = graft.frontier.ImageSynth.imageSeedTable(sp, n)
      val ck = Scratch.dir("frontier-q35").toString
      val cfg = graft.frontier.FrontierConfig(checkpointDir = ck, hostBudget = 3,
        seenShards = 8)
      val f = new graft.frontier.Frontier(sp, cfg)
      f.initialize(graft.frontier.Frontier.seedsFromImages(images))
      val hm5 = udf((h: String) =>
        java.lang.Math.floorMod(graft.frontier.SeenFilter.hashKey(h), 5L))
      f.pendingDf(0)
        .select($"surt_key", $"canonical_url", $"host", $"priority", hm5($"host").as("hm5"))
        .write.mode("overwrite").parquet(StageDir + "/q35_pending.parquet")
      f.runWave()
      f.scheduledDf(1)
        .select($"host", $"surt_key", $"priority", $"rank_in_host")
        .orderBy($"priority", $"host", $"surt_key")
    }),
    // ---- J3: revisit resolution by payload digest --------------------
    "q36_revisit_resolve" -> ((s, dir) => { implicit val sp = s; import sp.implicits._
      // corpus: responses + revisits of every 5th doc (identical payload
      // digest); resolve each revisit to its original response record
      val docs = t(dir, "documents").select($"doc_id".cast("long"), $"text")
        .repartition(sp.sparkContext.defaultParallelism) // spread gzip+parse off the single scan task
      val warcRows = docs.as[(Long, String)].mapPartitions { it =>
        it.flatMap { case (docId, text) =>
          val url = s"https://www.example.com/doc/$docId"
          val date = f"2020-01-01T00:${(docId / 60) % 60}%02d:${docId % 60}%02dZ"
          val body = text.getBytes(java.nio.charset.StandardCharsets.UTF_8)
          val resp = graft.core.WarcWriter.create(url = url, date = date,
            warcType = "response", httpHeaders = Seq("Content-Type" -> "text/plain"),
            payload = body, recordId = f"00000000-0000-0000-0000-$docId%012d")
          val respBytes = graft.core.WarcWriter.serialize(resp, graft.core.WarcWriter.CdxDigest, gzip = true)
          val out = scala.collection.mutable.ArrayBuffer(
            ("resp", graft.core.WarcStreaming.parseStream(new java.io.ByteArrayInputStream(respBytes),
              s"d$docId.warc.gz", isGzip = true).next()))
          if (docId % 5 == 0) {
            val digest = out.head._2.warcHeader("WARC-Payload-Digest").get
            val rev = graft.core.WarcWriter.create(url = url + "?rev=1",
              date = "2021-01-01T00:00:00Z", warcType = "revisit",
              refersToUrl = url, refersToDate = date,
              recordId = f"00000000-0000-0000-0001-$docId%012d")
            val revBytes = graft.core.WarcWriter.serialize(rev, graft.core.WarcWriter.CdxDigest,
              gzip = true, payloadDigestForRevisit = digest)
            out += (("rev", graft.core.WarcStreaming.parseStream(new java.io.ByteArrayInputStream(revBytes),
              s"r$docId.warc.gz", isGzip = true).next()))
          }
          out.iterator.map { case (kind, fr) =>
            (kind, fr.warcTargetURI, fr.warcHeader("WARC-Payload-Digest").orNull, fr.filename)
          }
        }
      }.toDF("kind", "url", "payload_digest", "filename")
        // stage the constructed corpus so the DuckDB oracle joins the
        // SAME input (digests aren't SQL-computable); Spark reads the
        // staged copy too — both engines consume identical bytes
      warcRows.write.mode("overwrite").parquet(StageDir + "/q36_warc_rows.parquet")
      val staged = sp.read.parquet(StageDir + "/q36_warc_rows.parquet")
      val responses = staged.filter($"kind" === "resp")
        .select($"payload_digest", $"url".as("original_url"), $"filename".as("original_file"))
      val revisits = staged.filter($"kind" === "rev")
        .select($"payload_digest", $"url".as("revisit_url"))
      // equi-join on digest: each revisit resolves to its original
      revisits.join(responses, Seq("payload_digest"))
        .select($"revisit_url", $"original_url", $"payload_digest")
        .orderBy($"revisit_url")
    }),
    // ---- D1-D3: transfer + content decode round-trip -----------------
    "q37_payload_decode" -> ((s, dir) => { implicit val sp = s; import sp.implicits._
      val docs = t(dir, "documents").select($"doc_id", $"text")
        .repartition(sp.sparkContext.defaultParallelism) // gzip encode+decode off the single scan task
      // chunk-encode then gzip each text; decode_payload must invert both
      val encoded = docs.as[(Long, String)].map { case (id, text) =>
        val raw = text.getBytes(java.nio.charset.StandardCharsets.UTF_8)
        val gz = graft.core.WarcWriter.gzipMember(raw)
        val chunked = new java.io.ByteArrayOutputStream()
        gz.grouped(100).foreach { c =>
          chunked.write((c.length.toHexString + "\r\n").getBytes)
          chunked.write(c); chunked.write("\r\n".getBytes)
        }
        chunked.write("0\r\n\r\n".getBytes)
        (id, chunked.toByteArray)
      }.toDF("doc_id", "body")
      // the DECODED TEXT itself is the output — the oracle compares it
      // against the source column value-for-value (not a literal TRUE)
      encoded.select($"doc_id",
          Functions.decodePayload($"body", lit("gzip"), lit("chunked")).as("decoded"))
        .select($"doc_id",
          $"decoded".cast("string").as("decoded_text"),
          length($"decoded").as("n_bytes"))
        .orderBy($"doc_id")
    }),
    // ---- bloom prefilter + exact verify (seen-set fallback path) -----
    "q38_bloom_prefilter" -> ((s, dir) => { implicit val sp = s; import sp.implicits._
      val c = t(dir, "customer").filter($"c_acctbal" > 5000.0)
      val o = t(dir, "orders")
      // Spark's built-in BloomFilter as the executor-side prefilter…
      val bloom = c.stat.bloomFilter($"c_custkey", 100000L, 0.01)
      val b = sp.sparkContext.broadcast(bloom)
      val mightSee = udf((k: Long) => b.value.mightContain(k))
      val prefiltered = o.filter(mightSee($"o_custkey"))
      // …then the exact semi-join guarantees correctness (FPs removed)
      prefiltered.join(c.select($"c_custkey"), $"o_custkey" === $"c_custkey", "left_semi")
        .groupBy($"o_custkey")
        .agg(count(lit(1)).as("n_orders"), round(sum($"o_totalprice"), 4).as("total"))
        .orderBy($"o_custkey")
    }),
    // ---- robots.txt gate (north rule: politeness + robots). URLs and
    // the SELECTED agent group's parsed rules are staged; the oracle
    // re-derives the longest-prefix-match decision (allow wins ties,
    // default allow, selected group replaces *) in SQL. The text→rules
    // parse itself is unit-golden-tested in RobotsSpec.
    "q39_robots_filter" -> ((s, dir) => { implicit val sp = s; import sp.implicits._
      val docs = t(dir, "documents").select($"doc_id".cast("long"), $"source")
      val urls = docs.select(
        concat($"source", lit(".example.org")).as("host"),
        concat(
          when($"doc_id" % 4 === 0, lit("/private/p"))
            .when($"doc_id" % 4 === 1, lit("/private/ok/p"))
            .when($"doc_id" % 4 === 2, lit("/pub/p"))
            .otherwise(lit("/graft-only/p")),
          lit("/"), $"doc_id").as("path"))
      val robotsTxt = udf((h: String) => {
        val base = "User-agent: *\nDisallow: /private\nAllow: /private/ok\n"
        if (java.lang.Math.floorMod(graft.frontier.SeenFilter.hashKey(h), 2L) == 0L)
          base + "\nUser-agent: graft\nDisallow: /graft-only\nCrawl-delay: 2\n"
        else base
      })
      val robots = urls.select($"host").distinct()
        .select($"host", robotsTxt($"host").as("robots_txt"))
      urls.write.mode("overwrite").parquet(StageDir + "/q39_urls.parquet")
      robots.as[(String, String)].flatMap { case (h, txt) =>
        graft.frontier.Robots.groupFor(graft.frontier.Robots.parse(txt), "graft")
          .toSeq.flatMap(_.rules).map(r => (h, r.allow, r.pattern))
      }.toDF("host", "allow", "pattern")
        .write.mode("overwrite").parquet(StageDir + "/q39_rules.parquet")
      graft.frontier.Robots.applyRobots(
          sp.read.parquet(StageDir + "/q39_urls.parquet"), robots, "host", "path",
          agent = "graft")
        .orderBy($"host", $"path")
    }),
    // ---- audio: REAL WAV/PCM16 decode + windowed RMS. The decoded
    // samples are staged; the oracle recomputes the windowing + RMS in
    // SQL (decode itself is bit-exact-round-trip tested in MediaSpec).
    "q40_audio_rms" -> ((s, dir) => { implicit val sp = s; import sp.implicits._
      val n = t(dir, "documents").count()
      val media = sp.range(n)
        .map(i => (f"au$i%06d", graft.frontier.MediaSynth.wavFor(42L, i, 4096)))
        .toDF("media_id", "bytes")
      sp.range(n).flatMap { i =>
        val id = f"au$i%06d"
        graft.frontier.MediaSynth.pcmSamples(42L, i, 4096)
          .iterator.zipWithIndex.map { case (sm, j) => (id, j.toLong, sm.toInt) }
      }.toDF("media_id", "idx", "sample")
        .write.mode("overwrite").parquet(StageDir + "/q40_samples.parquet")
      Multimodal.audioWindows(media, "media_id", "bytes", windowSamples = 1024)
        .filter($"decoded")
        .select($"media_id", $"window_idx", round($"rms_energy", 4).as("rms"))
        .orderBy($"media_id", $"window_idx")
    }),
    // ---- video: REAL MJPEG frame extraction (JPEG structure + ImageIO
    // decode); frame count metadata staged, the oracle re-derives the
    // sampled (frame_idx, dims) set in SQL.
    "q41_video_frames" -> ((s, dir) => { implicit val sp = s; import sp.implicits._
      val n = t(dir, "documents").count()
      // per-video frame counts AND dims vary — the staged metadata is
      // the source of truth the decoded dims must reproduce (no
      // constant w/h the oracle could accidentally share)
      val media = sp.range(n).map { i =>
        val frames = 3 + (i % 4).toInt
        val w = 24 + ((i % 3) * 4).toInt
        val h = 20 + ((i % 2) * 8).toInt
        (f"vid$i%06d", frames, w, h,
          graft.frontier.MediaSynth.mjpegFor(42L, i, frames, w = w, h = h))
      }.toDF("media_id", "n_frames", "w", "h", "bytes")
      media.select($"media_id", $"n_frames", $"w", $"h")
        .write.mode("overwrite").parquet(StageDir + "/q41_meta.parquet")
      Multimodal.sampleFrames(media, "media_id", "bytes", everyNth = 2, maxFrames = 8)
        .toDF().select($"media_id", $"frame_idx", $"w", $"h")
        .orderBy($"media_id", $"frame_idx")
    }),
    // ---- dedup clusters: near-dup pairs → connected components →
    // keeper per cluster. Pairs staged; the oracle computes the true
    // transitive closure with a recursive CTE and takes the min
    // reachable id per node.
    "q42_dedup_clusters" -> ((s, dir) => { implicit val sp = s; import sp.implicits._
      // corpus with real multi-doc clusters: each doc + two mutated
      // copies; simhash at distance ≤3 pairs them (recall exactly 1)
      val docs = t(dir, "documents").select($"doc_id", $"text")
      val mut1 = docs.select(($"doc_id" + 1000000).as("doc_id"),
        concat($"text", lit(" zzextra")).as("text"))
      val mut2 = docs.select(($"doc_id" + 2000000).as("doc_id"),
        concat($"text", lit(" zzextra more")).as("text"))
      val pairs = Dedup.simhashPairs(docs.unionByName(mut1).unionByName(mut2),
        "doc_id", "text", maxDist = 4)
        .select($"id_a", $"id_b")
      pairs.write.mode("overwrite").parquet(StageDir + "/q42_pairs.parquet")
      // large-star/small-star directly: this corpus chains similar
      // documents into components of diameter ~14, where min-label
      // propagation needs ~15 rounds (measured: 15 driver jobs + round
      // shuffles) while the star scheme converges in O(log d) rounds.
      // Both are exact (component = min reachable id), so the output is
      // row-identical — the recursive-CTE oracle re-checks it.
      Dedup.keepPerComponent(Dedup.connectedComponentsStar(
          sp.read.parquet(StageDir + "/q42_pairs.parquet")))
        .orderBy($"id")
    }),
    // ---- connected components via LARGE-STAR/SMALL-STAR over an
    // adversarially long path graph (components of 64 consecutive doc
    // ids, diameter 63 — the shape min-label propagation cannot handle
    // in O(1) rounds). The edge list is staged; the oracle recomputes
    // the transitive closure with a recursive CTE and labels every
    // node with its component minimum.
    "q44_cc_star" -> ((s, dir) => { implicit val sp = s; import sp.implicits._
      val edges = t(dir, "documents").select($"doc_id".cast("long").as("doc_id"))
        .filter($"doc_id" % 64 =!= 63)
        .select($"doc_id".as("id_a"), ($"doc_id" + 1L).as("id_b"))
      edges.write.mode("overwrite").parquet(StageDir + "/q44_edges.parquet")
      Dedup.connectedComponentsStar(sp.read.parquet(StageDir + "/q44_edges.parquet"))
        .orderBy($"id")
    }),
    // ---- seen-set membership probe (the wave's subtract step
    // standalone): initialize a frontier, then probe 2n URLs of which
    // the first n are the seeds themselves. The seen keys and the
    // canonicalized probe keys are staged; the oracle re-derives the
    // fresh set as an anti-join in SQL — an independent check of the
    // in-task cuckoo-chain + exact-hash-run membership path.
    "q43_seen_probe" -> ((s, dir) => { implicit val sp = s; import sp.implicits._
      val ck = Scratch.dir("frontier-q43").toString
      val cfg = graft.frontier.FrontierConfig(checkpointDir = ck, seenShards = 16)
      val f = new graft.frontier.Frontier(sp, cfg)
      val n = t(dir, "documents").count().toInt.max(100)
      f.initialize(graft.frontier.Frontier.syntheticSeeds(sp, n))
      f.seenDf(0).write.mode("overwrite").parquet(StageDir + "/q43_seen.parquet")
      val probes = graft.frontier.Frontier.syntheticSeeds(sp, 2 * n)
      probes
        .withColumn("c", Functions.canonAll($"url"))
        .select($"c._2".as("surt_key"))
        .filter($"surt_key".isNotNull)
        .write.mode("overwrite").parquet(StageDir + "/q43_probes.parquet")
      f.freshOnly(probes).select($"surt_key").orderBy($"surt_key")
    }),
    // ---- header parsing over synthesized blocks. The blocks are
    // staged; the oracle re-parses them with SQL string ops (line
    // split, name match, value extraction) — the parse itself is
    // cross-derived, not a reconstructed literal.
    "q32_parse_headers" -> ((s, dir) => { implicit val sp = s; import sp.implicits._
      t(dir, "documents").select($"doc_id",
        concat(lit("Content-Type: text/plain\r\nX-Doc: d"), $"doc_id",
          lit("\r\nSet-Cookie: a=1\r\nSet-Cookie: b=2\r\n\r\n")).as("block"))
        .write.mode("overwrite").parquet(StageDir + "/q32_blocks.parquet")
      sp.read.parquet(StageDir + "/q32_blocks.parquet")
        .select($"doc_id", Functions.parseHeaders($"block").as("headers"))
        .select($"doc_id", size($"headers").as("n_headers"),
          Functions.headerGet($"headers", "set-cookie").as("cookies"),
          Functions.headerGet($"headers", "x-doc").as("xdoc"))
        .orderBy($"doc_id")
    })
  )

  // =================================================================
  // DuckDB oracle SQL — same tables, same column names, same order.
  // =================================================================

  def oracleSql: Map[String, String] = Map(
    "q01_agg" ->
      """SELECT l_returnflag, l_linestatus, sum(l_quantity) AS sum_qty,
        | round(sum(l_extendedprice * (1 - l_discount)), 4) AS revenue,
        | count(*) AS n_rows
        |FROM lineitem GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    "q02_join_agg" ->
      """SELECT n_name,
        | round(sum(l_extendedprice * (1 - l_discount)), 4) AS revenue,
        | count(*) AS n_items
        |FROM lineitem
        |JOIN orders ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |JOIN nation ON c_nationkey = n_nationkey
        |GROUP BY 1 ORDER BY 1""".stripMargin,
    "q03_filter_project" ->
      """SELECT event_id, user_id, event_type, round(value, 4) AS value
        |FROM events
        |WHERE event_type IN ('purchase', 'signup') AND value > 50.0
        |ORDER BY event_id""".stripMargin,
    "q04_adjacent_pair" ->
      """WITH w AS (
        |  SELECT user_id, event_id, event_type, ts,
        |    lag(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_type,
        |    lag(event_id) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_id
        |  FROM events)
        |SELECT user_id, prev_id AS view_id, event_id AS purchase_id
        |FROM w WHERE event_type = 'purchase' AND prev_type = 'view'
        |ORDER BY user_id, purchase_id""".stripMargin,
    "q05_running_window" ->
      """SELECT o_custkey, o_orderkey,
        | round(sum(o_totalprice) OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
        |   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 4) AS running_total
        |FROM orders ORDER BY o_custkey, o_orderkey""".stripMargin,
    "q06_topk_group" ->
      """WITH r AS (
        |  SELECT o_custkey, o_orderkey, o_totalprice,
        |    row_number() OVER (PARTITION BY o_custkey ORDER BY o_totalprice DESC, o_orderkey) AS rk
        |  FROM orders)
        |SELECT o_custkey, o_orderkey, round(o_totalprice, 4) AS o_totalprice, rk
        |FROM r WHERE rk <= 3 ORDER BY o_custkey, rk""".stripMargin,
    "q07_sort_limit" ->
      """SELECT l_orderkey, l_linenumber, round(l_extendedprice, 4) AS l_extendedprice
        |FROM lineitem ORDER BY 3 DESC, 1, 2 LIMIT 100""".stripMargin,
    "q08_sha256" ->
      "SELECT doc_id, sha256(text) AS digest FROM documents ORDER BY doc_id",
    "q09_dedup_exact" ->
      """SELECT sha256(text) AS content_hash, min(doc_id) AS keep_id, count(*) AS dup_count
        |FROM documents GROUP BY 1 ORDER BY 1""".stripMargin,
    "q10_tokens" ->
      "SELECT doc_id, len(string_split(text, ' ')) AS n_tokens FROM documents ORDER BY doc_id",
    "q11_quality" ->
      """SELECT doc_id,
        | length(text) AS n_chars,
        | len(list_filter(string_split(text, ' '), x -> length(x) > 0)) AS n_words,
        | round(length(regexp_replace(text, '[^A-Za-z]', '', 'g')) * 1.0
        |   / greatest(length(text), 1), 6) AS alpha_ratio,
        | round(length(regexp_replace(text, '[^.,;:!?]', '', 'g')) * 1.0
        |   / greatest(length(text), 1), 6) AS punct_ratio,
        | round(len(list_filter(string_split(text, ' '),
        |     x -> lower(x) IN ('the','a','of','to','and','in','is','on'))) * 1.0
        |   / greatest(len(list_filter(string_split(text, ' '), x -> length(x) > 0)), 1), 6)
        |   AS stopword_ratio
        |FROM documents ORDER BY doc_id""".stripMargin,
    "q12_sessionize" ->
      """WITH w AS (
        |  SELECT user_id, event_id, ts,
        |    lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_ts
        |  FROM events)
        |SELECT user_id,
        |  CAST(sum(CASE WHEN prev_ts IS NULL OR epoch(ts) - epoch(prev_ts) > 1800 THEN 1 ELSE 0 END) AS BIGINT) AS n_sessions,
        |  count(*) AS n_events
        |FROM w GROUP BY 1 ORDER BY 1""".stripMargin,
    "q13_json" ->
      """SELECT event_type, CAST(sum(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT) AS sum_k, count(*) AS n
        |FROM events GROUP BY 1 ORDER BY 1""".stripMargin,
    "q14_anti_join" ->
      """SELECT c_custkey, c_name FROM customer
        |WHERE NOT EXISTS (SELECT 1 FROM orders
        |  WHERE o_custkey = c_custkey AND o_totalprice > 300000.0)
        |ORDER BY c_custkey""".stripMargin,
    "q15_semi_join" ->
      """SELECT c_custkey, c_mktsegment FROM customer
        |WHERE EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
        |ORDER BY c_custkey""".stripMargin,
    "q16_distinct" ->
      """SELECT event_type, count(*) AS n_users
        |FROM (SELECT DISTINCT user_id, event_type FROM events)
        |GROUP BY 1 ORDER BY 1""".stripMargin,
    "q17_surt" ->
      """SELECT doc_id,
        | 'com,example,' || source || ')/d/' || doc_id || '?a=1&b=2' AS urlkey
        |FROM documents ORDER BY doc_id""".stripMargin,
    "q18_stats" ->
      """SELECT source, count(*) AS n_docs, round(avg(n_chars), 4) AS avg_chars,
        | min(n_chars) AS min_chars, max(n_chars) AS max_chars
        |FROM documents GROUP BY 1 ORDER BY 1""".stripMargin,
    "q19_cosine_topk" ->
      """SELECT e.vec_id,
        | round(list_cosine_similarity(CAST(e.embedding AS DOUBLE[]), CAST(q.embedding AS DOUBLE[])), 4) AS cosine
        |FROM embeddings e,
        | (SELECT embedding FROM embeddings WHERE vec_id = 0) q
        |WHERE e.vec_id <> 0
        |ORDER BY cosine DESC, e.vec_id LIMIT 10""".stripMargin,
    "q20_lang_dist" ->
      """SELECT lang, count(*) AS n, CAST(sum(n_chars) AS BIGINT) AS total_chars
        |FROM documents GROUP BY 1 ORDER BY 1""".stripMargin,
    "q33_stream_window" ->
      """SELECT time_bucket(INTERVAL '1 hour', ts) AS window_start, event_type,
        | count(*) AS n, round(sum(value), 4) AS sum_value
        |FROM events GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    "q38_bloom_prefilter" ->
      """SELECT o_custkey, count(*) AS n_orders, round(sum(o_totalprice), 4) AS total
        |FROM orders
        |WHERE EXISTS (SELECT 1 FROM customer
        |  WHERE c_custkey = o_custkey AND c_acctbal > 5000.0)
        |GROUP BY 1 ORDER BY 1""".stripMargin,
    // exact all-pairs n-gram jaccard: the LSH candidate stage must not
    // lose any >=threshold pair on this corpus (recall check built in)
    "q27_ngram_jaccard" ->
      """WITH grams AS (
        |  SELECT doc_id, list_distinct(list_transform(
        |    range(1, len(words) - 1),
        |    i -> words[i] || ' ' || words[i+1] || ' ' || words[i+2])) AS g
        |  FROM (SELECT doc_id, list_filter(string_split(text, ' '), w -> len(w) > 0) AS words
        |        FROM documents)
        |  WHERE len(words) >= 3)
        |SELECT CAST(a.doc_id AS BIGINT) AS id_a, CAST(b.doc_id AS BIGINT) AS id_b,
        |  round(len(list_intersect(a.g, b.g)) * 1.0
        |    / len(list_distinct(list_concat(a.g, b.g))), 4) AS jaccard
        |FROM grams a JOIN grams b ON a.doc_id < b.doc_id
        |WHERE len(list_intersect(a.g, b.g)) * 1.0
        |    / len(list_distinct(list_concat(a.g, b.g))) >= 0.3
        |ORDER BY 1, 2""".stripMargin,
    // all-pairs cosine re-derived from the staged corpus — any pair
    // the LSH pipeline emits or misses shows up as a diff
    "q28_embed_neardup" ->
      """WITH d AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e
        |  FROM read_parquet('/tmp/graft_oracle_stage/q28_vectors.parquet/*.parquet'))
        |SELECT a.vec_id AS id_a, b.vec_id AS id_b,
        |  round(list_cosine_similarity(a.e, b.e), 4) AS cosine
        |FROM d a JOIN d b ON a.vec_id < b.vec_id
        |WHERE list_cosine_similarity(a.e, b.e) >= 0.95
        |ORDER BY 1, 2""".stripMargin,
    // fresh = probes ∖ seen, re-derived as a SQL anti-join over the
    // staged keys — must equal the shard-file membership decision
    "q43_seen_probe" ->
      """WITH s AS (SELECT * FROM read_parquet('/tmp/graft_oracle_stage/q43_seen.parquet/*.parquet')),
        |p AS (SELECT * FROM read_parquet('/tmp/graft_oracle_stage/q43_probes.parquet/*.parquet'))
        |SELECT p.surt_key FROM p
        |LEFT JOIN s ON p.surt_key = s.surt_key
        |WHERE s.surt_key IS NULL
        |ORDER BY p.surt_key""".stripMargin,
    "q32_parse_headers" ->
      """WITH b AS (SELECT * FROM read_parquet('/tmp/graft_oracle_stage/q32_blocks.parquet/*.parquet')),
        |l AS (SELECT doc_id,
        |        list_filter(string_split(block, chr(13) || chr(10)),
        |          x -> length(x) > 0) AS lines
        |      FROM b)
        |SELECT doc_id,
        |  len(lines) AS n_headers,
        |  array_to_string(list_transform(
        |    list_filter(lines, x -> starts_with(lower(x), 'set-cookie:')),
        |    x -> trim(substr(x, 12))), ', ') AS cookies,
        |  list_transform(
        |    list_filter(lines, x -> starts_with(lower(x), 'x-doc:')),
        |    x -> trim(substr(x, 7)))[1] AS xdoc
        |FROM l ORDER BY doc_id""".stripMargin,
    "q36_revisit_resolve" ->
      """WITH w AS (SELECT * FROM read_parquet('/tmp/graft_oracle_stage/q36_warc_rows.parquet/*.parquet'))
        |SELECT r.url AS revisit_url, o.url AS original_url, r.payload_digest
        |FROM (SELECT * FROM w WHERE kind = 'rev') r
        |JOIN (SELECT * FROM w WHERE kind = 'resp') o USING (payload_digest)
        |ORDER BY revisit_url""".stripMargin,
    "q37_payload_decode" ->
      """SELECT doc_id, text AS decoded_text,
        | CAST(octet_length(encode(text)) AS INTEGER) AS n_bytes
        |FROM documents ORDER BY doc_id""".stripMargin,
    // LSH band-bucket pair generation re-derived over the staged
    // signature table: candidates = any positional band-hash equality,
    // estimate = fraction of equal signature positions
    "q21_minhash_pairs" ->
      """WITH d AS (SELECT * FROM read_parquet('/tmp/graft_oracle_stage/q21_minhash_sigs.parquet/*.parquet')),
        |cand AS (
        |  SELECT a.id AS id_a, b.id AS id_b,
        |    len(list_filter(range(1, len(a.sig) + 1), i -> a.sig[i] = b.sig[i])) * 1.0
        |      / len(a.sig) AS est
        |  FROM d a JOIN d b ON a.id < b.id
        |  WHERE len(list_filter(range(1, len(a.bh) + 1), i -> a.bh[i] = b.bh[i])) > 0)
        |SELECT id_a, id_b, round(est, 4) AS est_jaccard
        |FROM cand WHERE est >= 0.3 ORDER BY 1, 2""".stripMargin,
    // pigeonhole recall is exactly 1 at hamming <= 3, so the bucketed
    // pipeline must equal this all-pairs hamming join
    "q22_simhash_pairs" ->
      """WITH d AS (SELECT * FROM read_parquet('/tmp/graft_oracle_stage/q22_simhash.parquet/*.parquet'))
        |SELECT a.id AS id_a, b.id AS id_b,
        |  CAST(bit_count(xor(a.sh, b.sh)) AS INTEGER) AS hamming
        |FROM d a JOIN d b ON a.id < b.id
        |WHERE bit_count(xor(a.sh, b.sh)) <= 3
        |ORDER BY 1, 2""".stripMargin,
    // winnowing selection re-derived in SQL over the staged k-gram
    // hashes: per-window unsigned min (hsort = sign-flipped hash),
    // rightmost tie (max pos at the min), consecutive-dup removal
    // (selected positions are monotone → DISTINCT)
    "q23_fingerprint" ->
      """WITH h AS (SELECT * FROM read_parquet('/tmp/graft_oracle_stage/q23_kgrams.parquet/*.parquet')),
        |n AS (SELECT doc_id, count(*) AS n FROM h GROUP BY 1),
        |w AS (SELECT doc_id, pos AS wstart,
        |        min(hsort) OVER (PARTITION BY doc_id ORDER BY pos
        |          ROWS BETWEEN CURRENT ROW AND 15 FOLLOWING) AS wmin
        |      FROM h),
        |w2 AS (SELECT w.* FROM w JOIN n USING (doc_id) WHERE w.wstart < greatest(1, n.n - 15)),
        |sel AS (SELECT w2.doc_id, w2.wstart, max(h.pos) AS minidx
        |        FROM w2 JOIN h ON h.doc_id = w2.doc_id
        |          AND h.pos >= w2.wstart AND h.pos <= w2.wstart + 15
        |          AND h.hsort = w2.wmin
        |        GROUP BY 1, 2),
        |picked AS (SELECT DISTINCT doc_id, minidx FROM sel),
        |vals AS (SELECT p.doc_id, h.h FROM picked p
        |         JOIN h ON h.doc_id = p.doc_id AND h.pos = p.minidx)
        |SELECT doc_id, CAST(count(*) AS INTEGER) AS n_fp,
        |  min(h) AS fp_min, max(h) AS fp_max
        |FROM vals GROUP BY 1 ORDER BY 1""".stripMargin,
    // the marker-count heuristic verbatim in SQL: non-overlapping
    // occurrence counts via replace-and-measure, argmax with
    // alphabetical tie-break (de < en < es < fr < zh)
    "q24_langid_pred" ->
      """WITH t AS (SELECT doc_id, ' ' || lower(text) || ' ' AS s FROM documents),
        |sc AS (SELECT doc_id,
        |  (length(s)-length(replace(s,' the ','')))//5 + (length(s)-length(replace(s,' and ','')))//5
        |   + (length(s)-length(replace(s,' of ','')))//4 + (length(s)-length(replace(s,' to ','')))//4
        |   + (length(s)-length(replace(s,' is ','')))//4 + (length(s)-length(replace(s,' in ','')))//4 AS en,
        |  (length(s)-length(replace(s,' le ','')))//4 + (length(s)-length(replace(s,' la ','')))//4
        |   + (length(s)-length(replace(s,' et ','')))//4 + (length(s)-length(replace(s,' les ','')))//5
        |   + (length(s)-length(replace(s,' des ','')))//5 + (length(s)-length(replace(s,' une ','')))//5 AS fr,
        |  (length(s)-length(replace(s,' der ','')))//5 + (length(s)-length(replace(s,' die ','')))//5
        |   + (length(s)-length(replace(s,' und ','')))//5 + (length(s)-length(replace(s,' das ','')))//5
        |   + (length(s)-length(replace(s,' ist ','')))//5 + (length(s)-length(replace(s,' nicht ','')))//7 AS de,
        |  (length(s)-length(replace(s,' el ','')))//4 + (length(s)-length(replace(s,' la ','')))//4
        |   + (length(s)-length(replace(s,' los ','')))//5 + (length(s)-length(replace(s,' que ','')))//5
        |   + (length(s)-length(replace(s,' una ','')))//5 + (length(s)-length(replace(s,' es ','')))//4 AS es,
        |  (length(s)-length(replace(s,'的','')))//1 + (length(s)-length(replace(s,'是','')))//1
        |   + (length(s)-length(replace(s,'在','')))//1 + (length(s)-length(replace(s,'了','')))//1
        |   + (length(s)-length(replace(s,'和','')))//1 + (length(s)-length(replace(s,'有','')))//1 AS zh
        | FROM t)
        |SELECT doc_id,
        |  CASE WHEN de+en+es+fr+zh = 0 THEN 'und'
        |       WHEN de >= en AND de >= es AND de >= fr AND de >= zh THEN 'de'
        |       WHEN en >= es AND en >= fr AND en >= zh THEN 'en'
        |       WHEN es >= fr AND es >= zh THEN 'es'
        |       WHEN fr >= zh THEN 'fr' ELSE 'zh' END AS lang_pred,
        |  CASE WHEN de+en+es+fr+zh = 0 THEN 0.0
        |       ELSE round(greatest(de,en,es,fr,zh) * 1.0 / (de+en+es+fr+zh), 4)
        |       END AS lang_conf
        |FROM sc ORDER BY doc_id""".stripMargin,
    // SQL-derivable CDX fields re-derived from the source documents —
    // these must survive write→gzip→scan→pair→index unchanged
    "q25_warc_cdx" ->
      """SELECT
        | 'com,example,' || source || ')/doc/' || doc_id || '?a=1&b=2' AS urlkey,
        | '2020010100' || lpad(CAST((doc_id // 60) % 60 AS VARCHAR), 2, '0')
        |   || lpad(CAST(doc_id % 60 AS VARCHAR), 2, '0') AS timestamp,
        | 'https://www.' || source || '.example.com/doc/' || doc_id || '?b=2&a=1' AS url,
        | 'text/plain' AS mime, 200 AS status,
        | 32 AS digest_len,
        | 'doc' || doc_id || '.warc.gz' AS filename
        |FROM documents ORDER BY urlkey, timestamp""".stripMargin,
    // full-probe IVF = exact top-k. NOTE: ivfTopK ranks by the EXACT
    // cosine, so the oracle must too — ordering by the rounded alias
    // would make the k-boundary tie-fragile (two cosines that round
    // equal but differ exactly could select different sets).
    "q26_ann_ivf" ->
      """SELECT e.vec_id,
        | round(list_cosine_similarity(CAST(e.embedding AS DOUBLE[]), CAST(q.embedding AS DOUBLE[])), 4) AS cosine
        |FROM embeddings e,
        | (SELECT embedding FROM embeddings WHERE vec_id = 0) q
        |WHERE e.vec_id <> 0
        |ORDER BY list_cosine_similarity(CAST(e.embedding AS DOUBLE[]), CAST(q.embedding AS DOUBLE[])) DESC, e.vec_id
        |LIMIT 10""".stripMargin,
    // wave-2 scheduling re-derived from the staged wave-1 pending state:
    // robots filter + per-host politeness top-K + output ordering — the
    // salted two-phase budget must equal the plain per-host window
    "q29_frontier_wave" ->
      """WITH p AS (SELECT * FROM read_parquet('/tmp/graft_oracle_stage/q29_pending.parquet/*.parquet')),
        |a AS (SELECT * FROM p WHERE NOT (hm5 = 0 AND canonical_url LIKE '%/private%')),
        |r AS (SELECT host, surt_key, priority,
        |        CAST(row_number() OVER (PARTITION BY host ORDER BY priority, surt_key) AS INTEGER) AS rank_in_host
        |      FROM a)
        |SELECT host, surt_key, priority, rank_in_host FROM r WHERE rank_in_host <= 5
        |ORDER BY priority, host, surt_key""".stripMargin,
    // decoded dimensions must match the synthesized metadata row-for-row
    "q30_image_features" ->
      """SELECT image_id, w, h, TRUE AS decode_ok
        |FROM read_parquet('/tmp/graft_oracle_stage/q30_image_meta.parquet/*.parquet')
        |ORDER BY image_id""".stripMargin,
    "q31_image_neardup" ->
      """WITH d AS (SELECT * FROM read_parquet('/tmp/graft_oracle_stage/q31_phash.parquet/*.parquet'))
        |SELECT a.image_id AS id_a, b.image_id AS id_b,
        |  CAST(bit_count(xor(a.phash, b.phash)) AS INTEGER) AS hamming
        |FROM d a JOIN d b ON a.image_id < b.image_id
        |WHERE bit_count(xor(a.phash, b.phash)) <= 6
        |ORDER BY 1, 2""".stripMargin,
    "q35_frontier_from_images" ->
      """WITH p AS (SELECT * FROM read_parquet('/tmp/graft_oracle_stage/q35_pending.parquet/*.parquet')),
        |a AS (SELECT * FROM p WHERE NOT (hm5 = 0 AND canonical_url LIKE '%/private%')),
        |r AS (SELECT host, surt_key, priority,
        |        CAST(row_number() OVER (PARTITION BY host ORDER BY priority, surt_key) AS INTEGER) AS rank_in_host
        |      FROM a)
        |SELECT host, surt_key, priority, rank_in_host FROM r WHERE rank_in_host <= 3
        |ORDER BY priority, host, surt_key""".stripMargin,
    // robots decision re-derived over the staged urls + selected-group
    // rules: longest LIKE-prefix match, allow wins ties, default allow
    "q39_robots_filter" ->
      """WITH u AS (SELECT * FROM read_parquet('/tmp/graft_oracle_stage/q39_urls.parquet/*.parquet')),
        |r AS (SELECT * FROM read_parquet('/tmp/graft_oracle_stage/q39_rules.parquet/*.parquet')),
        |m AS (SELECT u.host, u.path, r.allow, length(r.pattern) AS l
        |      FROM u JOIN r ON u.host = r.host AND u.path LIKE r.pattern || '%'),
        |best AS (SELECT host, path, max(l) AS ml FROM m GROUP BY 1, 2),
        |dec AS (SELECT m.host, m.path, bool_or(m.allow) AS allow
        |        FROM m JOIN best ON m.host = best.host AND m.path = best.path AND m.l = best.ml
        |        GROUP BY 1, 2)
        |SELECT u.host AS host, u.path AS path FROM u
        |LEFT JOIN dec ON u.host = dec.host AND u.path = dec.path
        |WHERE coalesce(dec.allow, TRUE)
        |ORDER BY 1, 2""".stripMargin,
    // windowed RMS recomputed in SQL over the staged decoded samples
    "q40_audio_rms" ->
      """SELECT media_id, CAST(idx // 1024 AS INTEGER) AS window_idx,
        | round(sqrt(avg(CAST(sample AS DOUBLE) * sample)), 4) AS rms
        |FROM read_parquet('/tmp/graft_oracle_stage/q40_samples.parquet/*.parquet')
        |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    // sampled frame set AND per-video dims re-derived from staged meta
    "q41_video_frames" ->
      """WITH m AS (SELECT * FROM read_parquet('/tmp/graft_oracle_stage/q41_meta.parquet/*.parquet')),
        |f AS (SELECT media_id, w, h,
        |        CAST(unnest(range(0, n_frames, 2)) AS INTEGER) AS frame_idx FROM m)
        |SELECT media_id, frame_idx, w, h FROM f ORDER BY 1, 2""".stripMargin,
    // ground-truth components: recursive transitive closure over the
    // staged pairs, min reachable id per node
    "q42_dedup_clusters" ->
      """WITH RECURSIVE p AS (SELECT * FROM read_parquet('/tmp/graft_oracle_stage/q42_pairs.parquet/*.parquet')),
        |e AS (SELECT id_a AS a, id_b AS b FROM p UNION SELECT id_b, id_a FROM p),
        |reach(a, b) AS (
        |  SELECT a, b FROM e
        |  UNION
        |  SELECT r.a, e.b FROM reach r JOIN e ON r.b = e.a),
        |nodes AS (SELECT DISTINCT a AS id FROM e)
        |SELECT n.id AS id,
        |  least(n.id, min(r.b)) AS component,
        |  n.id = least(n.id, min(r.b)) AS keep
        |FROM nodes n JOIN reach r ON r.a = n.id
        |GROUP BY n.id ORDER BY n.id""".stripMargin,
    "q44_cc_star" ->
      """WITH RECURSIVE p AS (SELECT * FROM read_parquet('/tmp/graft_oracle_stage/q44_edges.parquet/*.parquet')),
        |e AS (SELECT id_a AS a, id_b AS b FROM p UNION SELECT id_b, id_a FROM p),
        |reach(a, b) AS (
        |  SELECT a, b FROM e
        |  UNION
        |  SELECT r.a, e.b FROM reach r JOIN e ON r.b = e.a),
        |nodes AS (SELECT DISTINCT a AS id FROM e)
        |SELECT n.id AS id, least(n.id, min(r.b)) AS component
        |FROM nodes n JOIN reach r ON r.a = n.id
        |GROUP BY n.id ORDER BY n.id""".stripMargin,
    "q34_batch_topk" ->
      """WITH scored AS (
        |  SELECT q.vec_id AS qid, c.vec_id AS cid,
        |    round(list_cosine_similarity(CAST(c.embedding AS DOUBLE[]),
        |      CAST(q.embedding AS DOUBLE[])), 4) AS cosine,
        |    row_number() OVER (PARTITION BY q.vec_id
        |      ORDER BY list_cosine_similarity(CAST(c.embedding AS DOUBLE[]),
        |        CAST(q.embedding AS DOUBLE[])) DESC, c.vec_id) AS rank
        |  FROM embeddings q, embeddings c
        |  WHERE q.vec_id < 3 AND c.vec_id >= 3)
        |SELECT qid, cid, cosine, rank FROM scored WHERE rank <= 5
        |ORDER BY qid, rank""".stripMargin
  )
}
