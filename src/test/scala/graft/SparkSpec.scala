package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funspec.AnyFunSpec
import org.scalatest.matchers.should.Matchers

/** Shared local SparkSession for all specs (one JVM-wide session). */
trait SparkSpec extends AnyFunSpec with Matchers with BeforeAndAfterAll {
  lazy val spark: SparkSession = SparkSpec.session
}

object SparkSpec {
  // 4 cores whatever SPARK_GRAFT_CPUS says: the forked test groups share the host
  lazy val session: SparkSession = GraftSession(cpus = 4)
}
