package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Base for suites needing a SparkSession: one session per JVM (forked
  * sbt test JVM), the engine's [[LocalSession]] at local[4].
  */
trait SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkSpec.session
}

object SparkSpec {
  // the catalog directory Spark creates on first catalog access —
  // never the repo cwd
  lazy val session: SparkSession = LocalSession("graft-test", 4,
    Some(java.nio.file.Files.createTempDirectory("graft-test-wh").toString))
}
