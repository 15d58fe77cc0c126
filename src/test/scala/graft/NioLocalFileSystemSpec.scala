package graft

import graft.frontier.{Frontier, FrontierConfig}
import java.nio.file.{Files, Path => JPath}
import jdk.jfr.Recording
import jdk.jfr.consumer.RecordingFile
import org.apache.hadoop.fs.{LocalFileSystem, Path, RawLocalFileSystem}
import org.scalatest.funsuite.AnyFunSuite
import scala.jdk.CollectionConverters._

/** The session's `file://` file system sets permission bits without
  * forking `chmod` (Hadoop's own local file system forks one per create
  * and mkdir when libhadoop is absent), and leaves the same bits. */
class NioLocalFileSystemSpec extends AnyFunSuite with SparkTestBase {

  test("session local writes fork no chmod and leave Hadoop's mode bits") {
    val conf = spark.sessionState.newHadoopConf()
    assert(new Path("file:///").getFileSystem(conf).getClass.getName ==
      GraftSession.LocalFileSystemImpl)

    val root = Scratch.dir("nio-local-fs")
    val written = root.resolve("session")
    val rec = new Recording()
    rec.enable("jdk.ProcessStart")
    rec.start()
    try {
      spark.range(200).selectExpr("id", "cast(id as string) s").repartition(3)
        .write.parquet(written.resolve("pq").toString)
      val f = new Frontier(spark, FrontierConfig(checkpointDir = written.resolve("ck").toString,
        hostBudget = 4, seenShards = 4, backlogBuckets = 4, hostPool = 20))
      f.initialize(Frontier.syntheticSeeds(spark, 300))
      f.runWave()
    } finally rec.stop()
    val jfr = root.resolve("rec.jfr")
    rec.dump(jfr)
    rec.close()
    val chmods = RecordingFile.readAllEvents(jfr).asScala
      .filter(_.getEventType.getName == "jdk.ProcessStart")
      .map(_.getString("command")).filter(_.startsWith("chmod"))
    assert(chmods.isEmpty, s"${chmods.size} chmod processes, e.g. ${chmods.headOption}")

    // the same creates and mkdirs through Hadoop's plain local file
    // system, into a sibling dir, give every path the same mode bits
    val tree = Files.walk(written).iterator().asScala.toVector.filter(_ != written)
    assert(tree.count(_.getFileName.toString.endsWith(".parquet")) >= 3)
    val plain = new LocalFileSystem(new RawLocalFileSystem)
    plain.initialize(java.net.URI.create("file:///"), conf)
    val sibling = root.resolve("plain")
    def mirror(p: JPath): Path = new Path(sibling.resolve(written.relativize(p)).toUri)
    tree.foreach { p =>
      if (Files.isDirectory(p)) plain.mkdirs(mirror(p))
      else if (!p.getFileName.toString.endsWith(".crc")) plain.create(mirror(p), true).close()
    }
    val modes = tree.map { p =>
      val q = sibling.resolve(written.relativize(p))
      (written.relativize(p).toString, Files.getPosixFilePermissions(p),
        if (Files.exists(q)) Files.getPosixFilePermissions(q) else null)
    }
    val differ = modes.filter { case (_, a, b) => a != b }
    assert(differ.isEmpty, s"mode bits differ: ${differ.take(5)}")
    assert(modes.exists(_._1.endsWith(".crc")))
  }

  test("setPermission sets the bits Hadoop's chmod sets, sticky bit included") {
    val root = Scratch.dir("nio-local-perm")
    val conf = spark.sessionState.newHadoopConf()
    val nio = new NioLocalFileSystem.Raw
    val raw = new RawLocalFileSystem
    Seq(nio, raw).foreach(_.initialize(java.net.URI.create("file:///"), conf))
    for ((mode, dir) <- Seq("644" -> false, "600" -> false, "421" -> false, "070" -> false,
        "755" -> true, "711" -> true, "1777" -> true)) {
      val perm = new org.apache.hadoop.fs.permission.FsPermission(Integer.parseInt(mode, 8).toShort)
      val Seq(a, b) = Seq("nio", "raw").map(n => root.resolve(s"$n-$mode"))
      Seq(a, b).foreach(p => if (dir) Files.createDirectory(p) else Files.createFile(p))
      nio.setPermission(new Path(a.toUri), perm)
      raw.setPermission(new Path(b.toUri), perm)
      assert(nio.getFileLinkStatus(new Path(a.toUri)).getPermission ==
        raw.getFileLinkStatus(new Path(b.toUri)).getPermission, mode)
      assert(raw.getFileLinkStatus(new Path(b.toUri)).getPermission == perm, mode)
    }
  }
}
