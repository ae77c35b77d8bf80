package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared local session for all specs (one JVM-wide session — specs run in
  * the forked test JVM). It is the production session — extensions
  * installed — pinned at 4 cores on any host. Every spec takes it on
  * construction, so the session's static confs are in place before any
  * test can first touch Spark's JVM-wide codegen cache, which is sized
  * once from them.
  */
trait SparkSpec extends AnyFunSuite {
  val spark: SparkSession = SparkSpec.session
}

object SparkSpec {
  lazy val session: SparkSession = LocalSession("4")
}
