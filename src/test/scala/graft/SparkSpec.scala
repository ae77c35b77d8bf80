package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared local session for all specs (one JVM-wide session — specs run in
  * the forked test JVM). It is the production session — extensions
  * installed — pinned at 4 cores on any host.
  */
trait SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkSpec.session
}

object SparkSpec {
  lazy val session: SparkSession = LocalSession("4")
}
