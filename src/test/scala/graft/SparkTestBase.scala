package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.scalatest.funsuite.AnyFunSuite

/** Shared local session for Spark specs (one JVM-wide session; tests are
  * forked by sbt so this is safe). */
object SparkTestBase {
  lazy val spark: SparkSession = GraftSession.create("local[4]")
}

trait SparkTestBase { self: AnyFunSuite =>
  lazy val spark: SparkSession = SparkTestBase.spark
  /** A `newSession()` without the engine's SQL names: a child session
    * inherits `GraftExtensions`, so each of its names is dropped. The
    * SQL surface of a session built without `spark.sql.extensions`, as
    * the `Verify` main builds it. */
  def bareSession(): SparkSession = {
    val s = spark.newSession()
    for ((name, _, _) <- GraftExtensions.functions)
      s.sessionState.functionRegistry.dropFunction(FunctionIdentifier(name))
    s
  }
  def fixturePath(name: String): String =
    getClass.getResource(s"/warcio/$name").getPath
  def sfDir: String = "/root/testdata/sf0.001"
}
