package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Shared local SparkSession for specs (one JVM-wide session, small
  * parallelism so the suite stays fast). */
trait SparkSpec extends AnyFunSuite with BeforeAndAfterAll {
  lazy val spark: SparkSession = SparkSpec.session
  override def afterAll(): Unit = { /* shared session left running */ }
}

object SparkSpec {
  lazy val session: SparkSession = {
    val s = GraftSession(cores = 4)
    s.sparkContext.setLogLevel("ERROR")
    s
  }
}
