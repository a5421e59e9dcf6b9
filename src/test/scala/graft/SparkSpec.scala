package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** One shared local session for the whole suite run (sbt forks a single test
  * JVM; suites run sequentially), so Spark startup is paid once. */
object TestSpark {
  lazy val spark: SparkSession = {
    // keep catalog artifacts (warehouse, derby metastore) out of the repo
    val scratch = TempDirs.create("graft-test").toString
    System.setProperty("derby.system.home", scratch)
    val s = GraftSession.builder("4")
      .appName("graft-test")
      .config("spark.sql.warehouse.dir", s"$scratch/warehouse")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }
  val Sf0001 = "/root/testdata/sf0.001"
}

trait SparkSpec extends AnyFunSuite {
  // val (not def): `import spark.implicits._` needs a stable identifier
  protected lazy val spark: SparkSession = TestSpark.spark
  protected def sf: String = TestSpark.Sf0001
}
