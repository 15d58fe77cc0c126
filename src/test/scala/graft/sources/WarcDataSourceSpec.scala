package graft.sources

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.SparkTestBase

class WarcDataSourceSpec extends AnyFunSuite with SparkTestBase {

  test("format(\"warc\") reads fixtures with offset/length parity") {
    val df = spark.read.format("warc").load(fixturePath("example.warc.gz"))
    val rows = df.select("offset", "length", "warcType")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2))).toVector
    assert(rows == Vector(
      (0L, 353L, "warcinfo"), (353L, 431L, "warcinfo"),
      (784L, 1228L, "response"), (2012L, 609L, "request"),
      (2621L, 586L, "revisit"), (3207L, 609L, "request")))
  }

  test("v2 scan agrees with the fold scan") {
    import spark.implicits._
    val v2 = spark.read.format("warc").load(fixturePath("example.warc")).collect()
    val fold = WarcScan.scanFold(spark, Seq(fixturePath("example.warc"))) { (_, records) =>
      records.map(WarcRow.fromFramed)
    }.toDF().collect()
    assert(v2.length == fold.length)
    val key = (r: org.apache.spark.sql.Row) =>
      (r.getAs[Long]("offset"), r.getAs[String]("warcType"), r.getAs[String]("recordId"))
    assert(v2.map(key).toSet == fold.map(key).toSet)
  }

  test("column pruning reaches the scan (payload not materialized)") {
    val df = spark.read.format("warc").load(fixturePath("example.warc.gz"))
      .select("offset", "warcType")
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("columns=offset,warcType") || !plan.contains("payload"),
      s"payload not pruned:\n$plan")
    assert(df.count() == 6)
  }

  test("warcType filter pushes down into the scan") {
    val df = spark.read.format("warc").load(fixturePath("example.warc.gz"))
      .filter(col("warcType") === "response")
    val desc = df.queryExecution.executedPlan.toString
    assert(df.count() == 1)
    assert(desc.contains("typeFilter=response"), s"filter not pushed:\n$desc")
  }

  test("range splits: oversized .warc.gz scanned by many tasks, byte-exact offsets") {
    import graft.core.WarcWriter
    val dir = graft.Scratch.dir("warcsplit")
    val bytes = (0 until 120).map { i =>
      val payload = (s"doc $i " + "z" * 800).getBytes("UTF-8")
      val r = WarcWriter.create(url = s"https://ex.org/p/$i", date = "2020-01-01T00:00:00Z",
        warcType = "resource", payload = payload,
        recordId = f"00000000-0000-0000-0000-$i%012d")
      WarcWriter.serialize(r, WarcWriter.CdxDigest, gzip = true)
    }.reduce(_ ++ _)
    val f = dir.resolve("big.warc.gz")
    java.nio.file.Files.write(f, bytes)

    val whole = spark.read.format("warc").load(f.toString)
      .select("offset", "length", "recordId").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getString(2))).toSet

    // ranges follow the session's task size; odd sizes cut members
    // at different points
    val key = "spark.sql.files.maxPartitionBytes"
    val saved = spark.conf.get(key)
    try for (size <- Seq(2999, 4096, 10007)) {
      spark.conf.set(key, size.toString)
      val split = spark.read.format("warc").load(f.toString)
      assert(split.rdd.getNumPartitions > 1,
        s"expected >1 partitions for a ${bytes.length}-byte file at $key=$size")
      val splitRows = split.select("offset", "length", "recordId").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getString(2)))
      assert(splitRows.length == 120, s"split scan duplicated or dropped records at $size")
      assert(splitRows.toSet == whole, s"split offsets/lengths differ from whole-file scan at $size")
    } finally spark.conf.set(key, saved)
  }

  test("multi-file load unions per-file partitions") {
    val df = spark.read.format("warc")
      .load(fixturePath("example.warc.gz"), fixturePath("example-resource.warc.gz"))
    assert(df.select("filename").distinct().count() == 2)
    assert(df.rdd.getNumPartitions == 2)
  }

  test("multi-path load reads a file whose name holds a comma") {
    val dir = graft.Scratch.dir("warccomma")
    java.nio.file.Files.copy(java.nio.file.Paths.get(fixturePath("example.warc.gz")),
      dir.resolve("a,b.warc.gz"))
    java.nio.file.Files.copy(java.nio.file.Paths.get(fixturePath("example-resource.warc.gz")),
      dir.resolve("c.warc.gz"))
    def n(paths: String*): Long = spark.read.format("warc").load(paths: _*).count()
    val (ab, c) = (n(s"$dir/a,b.warc.gz"), n(s"$dir/c.warc.gz"))
    assert(ab > 0 && c > 0)
    assert(n(s"$dir/a,b.warc.gz", s"$dir/c.warc.gz") == ab + c)
  }

  test("directory load resolves through Hadoop FS, including a file: URI") {
    val dir = graft.Scratch.dir("warcdirload")
    val src = java.nio.file.Paths.get(fixturePath("example.warc.gz"))
    java.nio.file.Files.copy(src, dir.resolve("a.warc.gz"))
    java.nio.file.Files.copy(src, dir.resolve("b.warc.gz"))
    val plain = spark.read.format("warc").load(dir.toString)
    assert(plain.select("filename").distinct().count() == 2)
    val viaUri = spark.read.format("warc").load("file:" + dir.toString)
    assert(viaUri.count() == plain.count())
    val viaGlob = spark.read.format("warc").load(s"$dir/*.warc.gz")
    assert(viaGlob.count() == plain.count())
  }
}

class LenientScanSpec extends org.scalatest.funsuite.AnyFunSuite with graft.SparkTestBase {
  test("lenient scan skips a corrupt file instead of failing the job") {
    val dir = graft.Scratch.dir("lenient")
    val good = java.nio.file.Paths.get(fixturePath("example.warc.gz"))
    java.nio.file.Files.copy(good, dir.resolve("good.warc.gz"))
    // truncated gzip: invalid member
    val corrupt = java.nio.file.Files.readAllBytes(good).take(100)
    java.nio.file.Files.write(dir.resolve("bad.warc.gz"), corrupt)
    import spark.implicits._
    val rows = spark.read.format("warc").option("lenient", "true").load(dir.toString)
      .as[WarcRow].collect()
    assert(rows.length == 6) // only the good file's records
    assert(rows.forall(_.filename == "good.warc.gz"))
  }

  test("lenient scan ends a .warc.gz cut inside its last gzip trailer, keeping the good file") {
    val dir = graft.Scratch.dir("lenient-trailer")
    java.nio.file.Files.copy(java.nio.file.Paths.get(fixturePath("example.warc.gz")),
      dir.resolve("good.warc.gz"))
    // the second member's CRC32/ISIZE trailer cut off
    java.nio.file.Files.write(dir.resolve("cut.warc.gz"),
      graft.core.WarcStreamingSpec.twoMemberGz().dropRight(8))
    import spark.implicits._
    val rows = spark.read.format("warc").option("lenient", "true").load(dir.toString)
      .as[WarcRow].collect()
    assert(rows.count(_.filename == "good.warc.gz") == 6)
    // the cut file's records end at its broken member: the record of its
    // intact first member is kept, the second record is not
    assert(rows.filter(_.filename == "cut.warc.gz").map(_.targetUri).toSeq ==
      Seq("https://ex.org/0"))
    // strict mode fails the job on the same file
    val ex = intercept[Exception](spark.read.format("warc").load(dir.toString).collect())
    assert(Iterator.iterate[Throwable](ex)(_.getCause).takeWhile(_ != null)
      .exists(e => String.valueOf(e.getMessage).contains("truncated gzip member")))
  }
}
