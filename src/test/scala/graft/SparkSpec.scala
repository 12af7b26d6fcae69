package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** One shared local session for the whole test JVM: the production
  * session at 4 cores, with a temp warehouse. */
object TestSpark {
  lazy val spark: SparkSession = Sessions.local(4, Some(
    java.nio.file.Files.createTempDirectory("graft-warehouse").toString))
}

trait SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = TestSpark.spark
  val sf0001 = "/root/testdata/sf0.001"
}
