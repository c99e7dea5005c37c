package graft

import org.apache.spark.SparkConf
import org.scalatest.funsuite.AnyFunSuite

/** `Sessions.local` keeps the master a launcher (spark-submit) already set
  * and falls back to `local[cpus]` only when none is set.
  */
class SessionsSpec extends AnyFunSuite {

  test("a preset master is kept") {
    val conf = new SparkConf(false).set("spark.master", "yarn")
    assert(Sessions.masterFor(conf, "4") == "yarn")
  }

  test("an unset master gives local[cpus]") {
    assert(Sessions.masterFor(new SparkConf(false), "4") == "local[4]")
  }
}
