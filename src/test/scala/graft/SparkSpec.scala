package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Shared local SparkSession fixture for all specs. */
trait SparkSpec extends AnyFunSuite with BeforeAndAfterAll {

  lazy val spark: SparkSession = SparkSpec.session

  val Sf0001 = "/root/testdata/sf0.001"

  override def afterAll(): Unit = () // session shared across suites
}

object SparkSpec {
  /** The program's base recipe at 4 threads, with a throwaway warehouse. */
  lazy val session: SparkSession = Sessions.session("4", warehouseDir =
    Some(java.nio.file.Files.createTempDirectory("graft_wh_").toString))
}
