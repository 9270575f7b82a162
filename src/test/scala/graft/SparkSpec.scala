package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Shared local SparkSession for specs: the one users get, `Graft.session`. */
trait SparkSpec extends AnyFunSuite with BeforeAndAfterAll {

  lazy val spark: SparkSession = Graft.session()

  override def beforeAll(): Unit = {
    super.beforeAll()
    spark.sparkContext.setLogLevel("WARN")
  }
}
