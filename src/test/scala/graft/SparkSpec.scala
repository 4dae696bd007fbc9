package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll

/** Shared local SparkSession for specs (one JVM-wide session, forked sbt test). */
trait SparkSpec extends AnyFunSuite with BeforeAndAfterAll {
  lazy val spark: SparkSession = SparkSpec.session
  implicit def sparkImplicit: SparkSession = spark

  // materialize the session before the first test, so a suite that
  // reaches SparkSession.active before touching `spark` still finds the
  // shared session when run standalone (every suite must pass in
  // isolation)
  override protected def beforeAll(): Unit = { spark; super.beforeAll() }
}

object SparkSpec {
  lazy val session: SparkSession = Spark.session("graft-test", cpus = "4")
}
