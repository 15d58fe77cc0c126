package graft.frontier

import org.scalatest.funsuite.AnyFunSuite
import graft.SparkTestBase
import graft.operators.{Dedup, Multimodal}
import org.apache.spark.sql.functions.col

/** Per-row invariants from BASELINE.json: decoded-pixel PSNR ≥ 40 dB for
  * lossy rows, byte-exact for lossless; caption byte-exact equality. */
class ImageSpec extends AnyFunSuite with SparkTestBase {

  test("images table: schema matches the input hint") {
    val df = ImageSynth.imagesTable(spark, 10)
    assert(df.schema.map(f => (f.name, f.dataType.simpleString)) == Seq(
      ("image_id", "string"), ("bytes", "binary"), ("w", "int"), ("h", "int"),
      ("fmt", "string"), ("caption", "string"), ("phash", "bigint")))
  }

  test("lossless rows decode byte-exact; lossy rows PSNR >= 40 dB") {
    val rows = ImageSynth.imagesTable(spark, 60).collect()
    assert(rows.nonEmpty)
    for (r <- rows) {
      val idx = r.getAs[String]("image_id").stripPrefix("img").toLong
      val w = r.getAs[Int]("w"); val h = r.getAs[Int]("h")
      val ref = ImageSynth.renderReference(42L, idx, w, h)
      val dec = ImageSynth.decode(r.getAs[Array[Byte]]("bytes"))
      assert(dec.getWidth == w && dec.getHeight == h)
      if (r.getAs[String]("fmt") == "png") {
        var y = 0
        while (y < h) {
          var x = 0
          while (x < w) {
            assert((dec.getRGB(x, y) & 0xffffff) == (ref.getRGB(x, y) & 0xffffff),
              s"png byte-exact failed at ($x,$y) for ${r.getAs[String]("image_id")}")
            x += 1
          }
          y += 1
        }
      } else {
        val p = ImageSynth.psnr(ref, dec)
        assert(p >= 40.0, s"PSNR $p < 40 dB for ${r.getAs[String]("image_id")}")
      }
    }
  }

  test("captions byte-exact against the reference generator") {
    val rows = ImageSynth.imagesTable(spark, 40).collect()
    for (r <- rows) {
      val idx = r.getAs[String]("image_id").stripPrefix("img").toLong
      val expected = ImageSynth.captionFor(42L, idx)
      assert(r.getAs[String]("caption").getBytes("UTF-8").sameElements(expected.getBytes("UTF-8")))
    }
  }

  test("phash stored matches phash recomputed from decoded bytes (png)") {
    val rows = ImageSynth.imagesTable(spark, 20).collect().filter(_.getAs[String]("fmt") == "png")
    for (r <- rows) {
      val dec = ImageSynth.decode(r.getAs[Array[Byte]]("bytes"))
      assert(ImageSynth.phash64(dec) == r.getAs[Long]("phash"))
    }
  }

  test("determinism: same seed at different partition counts → identical bytes") {
    val a = ImageSynth.imagesTable(spark, 30, partitions = 2).orderBy("image_id").collect()
    val b = ImageSynth.imagesTable(spark, 30, partitions = 13).orderBy("image_id").collect()
    for ((ra, rb) <- a.zip(b)) {
      assert(ra.getAs[String]("image_id") == rb.getAs[String]("image_id"))
      assert(ra.getAs[Array[Byte]]("bytes").sameElements(rb.getAs[Array[Byte]]("bytes")))
      assert(ra.getAs[Long]("phash") == rb.getAs[Long]("phash"))
    }
  }

  test("multimodal: imageFeatures decodes all rows, phash consistent") {
    val images = ImageSynth.imagesTable(spark, 24)
    val feats = Multimodal.imageFeatures(images).collect()
    assert(feats.length == 24)
    assert(feats.forall(_.decode_ok))
    val phByid = images.select("image_id", "phash", "fmt").collect()
      .map(r => (r.getString(0), (r.getLong(1), r.getString(2)))).toMap
    for (f <- feats if phByid(f.image_id)._2 == "png")
      assert(f.phash == phByid(f.image_id)._1)
  }

  test("multimodal: resize produces exact target dims") {
    val images = ImageSynth.imagesTable(spark, 8)
    val resized = Multimodal.resizeImages(images, 24, 24).collect()
    for (r <- resized) {
      val img = ImageSynth.decode(r.getAs[Array[Byte]]("bytes"))
      assert(img.getWidth == 24 && img.getHeight == 24)
    }
  }

  test("multimodal: non-decodable containers fall back to the labeled stub paths") {
    // PNG bytes are neither MJPEG nor WAV: frame sampling and audio
    // windowing must take the stub branches and mark them as such
    val pngs = ImageSynth.imagesTable(spark, 6).filter(org.apache.spark.sql.functions.col("fmt") === "png")
    val frames = Multimodal.sampleFrames(pngs, "image_id", "bytes").collect()
    assert(frames.nonEmpty)
    assert(frames.forall(f => f.frame_bytes.length == 64 && f.w == -1 && f.h == -1))
    val windows = Multimodal.audioWindows(pngs, "image_id", "bytes").collect()
    assert(windows.nonEmpty)
    assert(windows.forall(!_.getAs[Boolean]("decoded")))
  }

  test("image near-dups: identical pixel function at same dims collide in phash") {
    // craft two images with identical content ids by reusing the same idx
    import spark.implicits._
    val rows = Seq(0L, 0L, 5L).zipWithIndex.map { case (srcIdx, i) =>
      val img = ImageSynth.renderReference(42L, srcIdx, 32, 32)
      (s"dup$i", ImageSynth.encodePng(img))
    }
    val df = rows.toDF("image_id", "bytes")
    val dups = Multimodal.imageNearDups(df, maxDist = 0).collect()
    assert(dups.exists(r => r.getAs[String]("id_a") == "dup0" && r.getAs[String]("id_b") == "dup1"))
  }

  /** `Dedup.hammingPairs` over (id, hash) rows with bigint ids, or with
    * the same ids as decimal strings (whose order differs: "10" < "2"). */
  private def hamming(rows: Seq[(Long, Long)], maxDist: Int, asString: Boolean,
                      maxBucket: Int = 1000,
                      acc: Option[org.apache.spark.util.LongAccumulator] = None): Set[(Any, Any, Int)] = {
    import spark.implicits._
    val df = rows.toDF("image_id", "phash")
    val typed = if (asString) df.withColumn("image_id", col("image_id").cast("string")) else df
    Dedup.hammingPairs(typed, "image_id", "phash", maxDist, maxBucket, acc)
      .collect().map(r => (r.get(0), r.get(1), r.getInt(2))).toSet
  }

  /** The all-pairs Hamming join oracle, each pair oriented in the id
    * type's order (Long order, or String order of the decimal ids). */
  private def allPairs(rows: Seq[(Long, Long)], maxDist: Int, asString: Boolean): Set[(Any, Any, Int)] =
    (for {
      i <- rows.indices
      j <- (i + 1) until rows.length
      d = java.lang.Long.bitCount(rows(i)._2 ^ rows(j)._2)
      if d <= maxDist
    } yield {
      val (x, y) = (rows(i)._1, rows(j)._1)
      val xFirst = if (asString) x.toString < y.toString else x < y
      val (a, b) = if (xFirst) (x, y) else (y, x)
      if (asString) (a.toString, b.toString, d) else (a, b, d)
    }).toSet

  test("maxDist = 0 single-chunk mask is all 64 bits (1L<<64 wraps to 1)") {
    val rnd = new scala.util.Random(3)
    val base = (0 until 50).map(i => (i.toLong, rnd.nextLong()))
    val dups = base.take(10).map { case (i, h) => (100 + i, h) }
    for (asString <- Seq(true, false)) {
      val got = hamming(base ++ dups, maxDist = 0, asString)
      // exactly the 10 exact-hash pairs — a zero mask would have bucketed
      // ALL rows together and still passed small cases by brute force
      assert(got.size == 10, s"asString=$asString: ${got.size} pairs")
      assert(got == allPairs(base ++ dups, 0, asString), s"asString=$asString")
    }
  }

  test("phash pigeonhole recall is exactly 1 at the DEFAULT maxDist = 6") {
    // r2 verdict: the old 4-chunk layout broke the guarantee above
    // distance 3 — chunks = maxDist+1 must equal all-pairs hamming at
    // imageNearDups' default maxDist
    val rnd = new scala.util.Random(7)
    val base = (0 until 200).map(i => (i.toLong, rnd.nextLong()))
    val mutated = base.map { case (i, h) =>
      val d = 1 + (i % 8).toInt // distances 1..8 straddle the threshold
      var m = h
      rnd.shuffle((0 until 64).toList).take(d).foreach(b => m ^= (1L << b))
      (1000 + i, m)
    }
    val all = base ++ mutated
    for (asString <- Seq(true, false)) {
      val got = hamming(all, maxDist = 6, asString)
      val exp = allPairs(all, 6, asString)
      assert(got == exp, s"asString=$asString: got ${got.size} pairs, expected ${exp.size}")
    }
  }

  test("hammingPairs over-cap bucket counts n - cap and pairs only the first cap ids in the id type's order") {
    // five ids share one hash (one maxDist = 0 bucket), cap 3: Long order
    // keeps 2, 3, 10; String order keeps "10", "100", "11"
    val hot = Seq(2L, 3L, 10L, 11L, 100L).map(i => (i, 0x5eedL))
    val rnd = new scala.util.Random(5)
    val singles = (0 until 20).map(i => (1000L + i, rnd.nextLong()))
    for ((asString, kept) <- Seq(false -> Seq(2L, 3L, 10L), true -> Seq(10L, 100L, 11L))) {
      val acc = spark.sparkContext.longAccumulator(s"test.hamming.trunc.$asString")
      val got = hamming(hot ++ singles, maxDist = 0, asString, maxBucket = 3, acc = Some(acc))
      assert(acc.value == 2, s"asString=$asString: accumulator ${acc.value}, expected 5 - 3")
      assert(got == allPairs(kept.map(i => (i, 0x5eedL)), 0, asString), s"asString=$asString")
    }
  }
}
