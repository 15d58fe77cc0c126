package graft

import java.net.URI
import org.apache.hadoop.fs.{FSDataInputStream, FSDataOutputStream, FilterFileSystem, Path}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.hadoop.util.Progressable
import org.apache.spark.sql.SparkSession

/** The local disk under the test-only `faulty://` scheme, able to fail
  * the Nth `create`, `open`, `rename` or `delete` whose path matches a
  * regex (`FaultyFs.arm`). Crash and I/O-fault tests run a checkpoint at
  * `faulty://<local dir>` and inspect the same dir through java.nio. */
class FaultyFs extends FilterFileSystem(new FaultyFs.Local) {
  override def getScheme: String = FaultyFs.Scheme

  override def create(f: Path, permission: FsPermission, overwrite: Boolean,
                      bufferSize: Int, replication: Short, blockSize: Long,
                      progress: Progressable): FSDataOutputStream = {
    FaultyFs.check("create", f)
    super.create(f, permission, overwrite, bufferSize, replication, blockSize, progress)
  }

  override def open(f: Path, bufferSize: Int): FSDataInputStream = {
    FaultyFs.check("open", f)
    super.open(f, bufferSize)
  }

  override def rename(src: Path, dst: Path): Boolean = {
    FaultyFs.check("rename", src)
    super.rename(src, dst)
  }

  override def delete(f: Path, recursive: Boolean): Boolean = {
    FaultyFs.check("delete", f)
    super.delete(f, recursive)
  }
}

object FaultyFs {
  val Scheme = "faulty"

  /** The engine's raw local fs (`NioLocalFileSystem.Raw`, the one under
    * every session's `file://`) reporting the `faulty` scheme, so paths
    * keep it. */
  class Local extends NioLocalFileSystem.Raw {
    override def getUri: URI = URI.create(s"$Scheme:///")
  }

  private final case class Fault(op: String, path: scala.util.matching.Regex,
                                 nth: Int, count: Int)
  private var fault: Option[Fault] = None
  private var matched = 0
  private var injected = 0

  /** Make the `faulty` scheme resolvable in `spark`'s Hadoop conf (the
    * `spark.hadoop.fs.faulty.*` settings, applied to the running
    * context), with the FileSystem cache off so every lookup sees it. */
  def register(spark: SparkSession): Unit = {
    val hc = spark.sparkContext.hadoopConfiguration
    hc.set(s"fs.$Scheme.impl", classOf[FaultyFs].getName)
    hc.setBoolean(s"fs.$Scheme.impl.disable.cache", true)
  }

  /** `faulty://` URI of a local dir. */
  def uri(localDir: String): String = s"$Scheme://$localDir"

  /** Fail matching calls nth … nth+count-1 of `op` on paths matching
    * `pathRe` (unanchored). Replaces any armed fault. */
  def arm(op: String, pathRe: String, nth: Int = 1, count: Int = 1): Unit = synchronized {
    fault = Some(Fault(op, pathRe.r, nth, count)); matched = 0; injected = 0
  }

  def disarm(): Unit = synchronized { fault = None }

  /** Faults injected since the last `arm`. */
  def fired: Int = synchronized(injected)

  private def check(op: String, p: Path): Unit = synchronized {
    fault.foreach { f =>
      if (f.op == op && f.path.findFirstIn(p.toString).isDefined) {
        matched += 1
        if (matched >= f.nth && matched < f.nth + f.count) {
          injected += 1
          throw new java.io.IOException(s"injected $op fault #$matched on $p")
        }
      }
    }
  }
}
