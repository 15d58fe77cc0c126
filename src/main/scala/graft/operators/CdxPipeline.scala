package graft.operators

import org.apache.spark.sql.{Dataset, SparkSession}
import graft.core._
import graft.sources.{WarcScan, WarcRow}

/** A typed CDX index row (the canonical web-archive index schema,
  * reference indexer.ts:182-187). */
final case class CdxRow(
    urlkey: String,
    timestamp: String,
    url: String,
    mime: String,
    status: Option[Int],
    digest: String,
    length: Long,
    offset: Long,
    filename: String,
    method: String,
    requestBody: String,
    referrer: String
)

/** The two CLI pipelines (`index`, `cdx-index`) as Spark jobs.
  *
  * Plan shape (SURVEY.md §3): both are NARROW pipelines — the scan task
  * holds a whole file in order, so the greedy request/response pairing
  * fold runs fused inside the scan and the job has ZERO shuffles. A
  * merged, sorted CDX (the reason urlkey is SURT) adds exactly one
  * `orderBy(urlkey, timestamp)` range exchange at the very end. The
  * exchange's range partitioner samples its input in a job of its own;
  * that job and the map stage both read the rows `WarcScan.scanFold`
  * persists, so each file is still inflated and parsed once. */
object CdxPipeline {

  /** `index` CLI: JSONL projection of record fields; exact output parity
    * with the reference CLI (fields, order, warnings-to-stderr aside). */
  def indexLines(spark: SparkSession, paths: Seq[String],
                 fields: Seq[String] = CdxIndexing.DEFAULT_FIELDS): Dataset[String] = {
    import spark.implicits._
    WarcScan.scanFold(spark, paths) { (_, records) =>
      records.map(r => CdxIndexing.serializeJson(CdxIndexing.indexRow(r, fields)))
    }
  }

  /** `cdx-index` CLI with arbitrary fields + format: exact line parity. */
  def cdxLines(spark: SparkSession, paths: Seq[String],
               fields: Seq[String] = CdxIndexing.DEFAULT_CDX_FIELDS,
               format: String = "cdxj",
               all: Boolean = false,
               noSurt: Boolean = false): Dataset[String] = {
    import spark.implicits._
    val ser: CdxIndexing.IndexRow => String = format match {
      case "cdxj" => CdxIndexing.serializeCdxj
      case "cdx"  => CdxIndexing.serializeCdx11
      case _      => CdxIndexing.serializeJson
    }
    WarcScan.scanFold(spark, paths) { (_, records) =>
      val rows =
        if (all) records.map(r => CdxIndexing.cdxRowAll(r, fields, noSurt))
        else CdxIndexing.pairRecords(records)
          .flatMap(p => CdxIndexing.cdxRow(p, fields, noSurt))
      rows.map(ser)
    }
  }

  /** Typed CDX Dataset for relational use (join/filter/sort by urlkey…). */
  def cdxDataset(spark: SparkSession, paths: Seq[String]): Dataset[CdxRow] = {
    import spark.implicits._
    WarcScan.scanFold(spark, paths) { (_, records) =>
      CdxIndexing.pairRecords(records).flatMap(toCdxRow)
    }
  }

  def toCdxRow(p: CdxIndexing.PairedRecord): Option[CdxRow] = {
    val r = p.record
    if (!CdxIndexing.cdxFilter(r)) return None
    def s(field: String): String =
      CdxIndexing.getCdxField(field, r, Some(p.urlkeyUrl), noSurt = false).map(_.toString).orNull
    val status = CdxIndexing.getCdxField("status", r, None, noSurt = false)
      .collect { case i: Int => i }
    val referrer = p.reqRecord.flatMap(req =>
      CdxIndexing.getBaseField("req.http:referer", req).map(_.toString)).orNull
    Some(CdxRow(
      urlkey = s("urlkey"), timestamp = s("timestamp"), url = s("url"), mime = s("mime"),
      status = status, digest = s("digest"), length = r.length, offset = r.offset,
      filename = r.filename, method = p.method.orNull, requestBody = p.requestBody.orNull,
      referrer = referrer))
  }

  /** Merged, globally sorted CDX — the batch equivalent of merging
    * per-file indexes; single range-partitioned sort. */
  def mergedCdx(spark: SparkSession, paths: Seq[String]): Dataset[CdxRow] = {
    val ds = cdxDataset(spark, paths)
    ds.orderBy(org.apache.spark.sql.functions.col("urlkey"),
      org.apache.spark.sql.functions.col("timestamp"))
  }

  /** Pairing as a standalone operator over an already-materialized
    * Dataset[WarcRow] (when records did not come from the fused scan):
    * one shuffle on filename, in-order fold per file group. */
  def pairDataset(spark: SparkSession, ds: Dataset[WarcRow]): Dataset[CdxRow] = {
    import spark.implicits._
    ds.groupByKey(_.filename).flatMapGroups { (_, rows) =>
      val sorted = rows.toVector.sortBy(_.offset)
      CdxIndexing.pairRecords(sorted.iterator.map(WarcRow.toFramed)).flatMap(toCdxRow)
    }
  }
}
