package graft.sources

import org.scalatest.funsuite.AnyFunSuite
import graft.SparkTestBase
import graft.core.{Base32, WarcWriter}

class LazyPayloadSpec extends AnyFunSuite with SparkTestBase {

  private def conf = spark.sessionState.newHadoopConf()

  private def sha1b32(bytes: Array[Byte]): String = {
    val md = java.security.MessageDigest.getInstance("SHA-1")
    "sha1:" + Base32.encode(md.digest(bytes))
  }

  test("pointer re-read streams a large payload in bounded chunks (digest parity)") {
    val dir = graft.Scratch.dir("lazypayload")
    // 40 MB body — far beyond what a task should buffer per record
    val big = Array.tabulate(40 << 20)(i => ((i * 31 + 7) & 0xff).toByte)
    val small = "hello payload".getBytes("UTF-8")
    val r1 = WarcWriter.create(url = "https://ex.org/small", date = "2020-01-01T00:00:00Z",
      warcType = "response", httpHeaders = Seq("Content-Type" -> "text/plain"),
      payload = small)
    val r2 = WarcWriter.create(url = "https://ex.org/big", date = "2020-01-01T00:00:01Z",
      warcType = "resource", payload = big)
    val bytes = WarcWriter.serialize(r1, WarcWriter.CdxDigest, gzip = true) ++
      WarcWriter.serialize(r2, WarcWriter.CdxDigest, gzip = true)
    val f = dir.resolve("lazy.warc.gz")
    java.nio.file.Files.write(f, bytes)

    // pointers from the PRUNED scan (payload never materialized there)
    val scanned = spark.read.format("warc").load(f.toString)
      .select("offset", "targetUri").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(scanned.size == 2)

    import spark.implicits._
    import org.apache.spark.sql.functions.lit
    val ptrs = scanned.keys.toSeq.toDF("offset").withColumn("path", lit(f.toString))
    val got = LazyPayload.payloadDigests(ptrs).collect()
      .map(r => r.getAs[Long]("offset") ->
        ((r.getAs[String]("payload_digest"), r.getAs[Long]("payload_length")))).toMap

    val expected = Map(
      "https://ex.org/small" -> ((sha1b32(small), small.length.toLong)),
      "https://ex.org/big" -> ((sha1b32(big), big.length.toLong)))
    scanned.foreach { case (off, uri) =>
      assert(got(off) == expected(uri), s"digest mismatch for $uri")
    }
  }

  test("multi-record gzip member: sink receives ONLY the first record's payload") {
    // non-conformant layout: one gzip member spanning two records — the
    // iterator parses ahead before emitting record 1, and the sink must
    // not concatenate record 2's payload into record 1's digest
    val dir = graft.Scratch.dir("lazypayload-multi")
    val b1 = "first-record-payload".getBytes("UTF-8")
    val b2 = "SECOND-record-payload-different".getBytes("UTF-8")
    val r1 = WarcWriter.create(url = "https://ex.org/1", date = "2020-01-01T00:00:00Z",
      warcType = "resource", payload = b1)
    val r2 = WarcWriter.create(url = "https://ex.org/2", date = "2020-01-01T00:00:01Z",
      warcType = "resource", payload = b2)
    val plain = WarcWriter.serialize(r1, WarcWriter.CdxDigest) ++
      WarcWriter.serialize(r2, WarcWriter.CdxDigest)
    val f = dir.resolve("multi.warc.gz")
    java.nio.file.Files.write(f, graft.core.WarcWriter.gzipMember(plain))
    val (digest, len) = LazyPayload.digestPayloadAt(f.toString, 0, conf)
    assert(len == b1.length.toLong, s"sink leaked past record 1: $len bytes")
    assert(digest == sha1b32(b1))
    // records 2..m share the member-granular offset: they must resolve
    // BY RECORD ID, not alias record 1's payload
    val scanned = spark.read.format("warc").load(f.toString)
      .select("recordId", "targetUri", "offset").collect()
    assert(scanned.length == 2 && scanned.forall(_.getLong(2) == 0L))
    val rid2 = scanned.find(_.getString(1) == "https://ex.org/2").get.getString(0)
    val (d2, l2) = LazyPayload.digestPayloadAt(f.toString, 0, conf, recordId = rid2)
    assert(l2 == b2.length.toLong, s"record-2 pointer aliased record 1: $l2 bytes")
    assert(d2 == sha1b32(b2))
  }

  test("truncated payload at a pointer THROWS instead of returning a short digest") {
    val dir = graft.Scratch.dir("lazypayload-trunc")
    val body = ("y" * 50000).getBytes("UTF-8")
    val r = WarcWriter.create(url = "https://ex.org/t", date = "2020-01-01T00:00:00Z",
      warcType = "resource", payload = body)
    val full = WarcWriter.serialize(r, WarcWriter.CdxDigest)
    val f = dir.resolve("trunc.warc")
    java.nio.file.Files.write(f, full.take(full.length - 20000)) // cut mid-payload
    intercept[java.io.EOFException] {
      LazyPayload.digestPayloadAt(f.toString, 0, conf)
    }
  }

  test("pointer re-read works on plain (non-gzip) warcs and http payloads") {
    val dir = graft.Scratch.dir("lazypayload-plain")
    val body = ("x" * 100000).getBytes("UTF-8")
    val r = WarcWriter.create(url = "https://ex.org/p", date = "2020-01-01T00:00:00Z",
      warcType = "response", httpHeaders = Seq("Content-Type" -> "text/plain"),
      payload = body)
    val f = dir.resolve("plain.warc")
    java.nio.file.Files.write(f, WarcWriter.serialize(r, WarcWriter.CdxDigest))
    val off = spark.read.format("warc").load(f.toString)
      .select("offset").collect().head.getLong(0)
    val (digest, len) = LazyPayload.digestPayloadAt(f.toString, off, conf)
    // http payload digest covers the BODY only (headers skipped)
    assert(digest == sha1b32(body))
    assert(len == body.length.toLong)
    // the caller's conf reaches the open: the faulty scheme exists only
    // in the session's
    graft.FaultyFs.register(spark)
    assert(LazyPayload.digestPayloadAt(graft.FaultyFs.uri(f.toString), off,
      spark.sessionState.newHadoopConf()) == ((digest, len)))
  }
}
