package graft.engine

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** A session configured only with `spark.sql.extensions` — no
  * `GraftFunctions.register` call — answers the whole SQL surface, and the
  * extension's optimizer rule is live; a later `register` leaves both as
  * the extension installed them.
  */
class GraftExtensionsSpec extends AnyFunSuite with BeforeAndAfterAll {

  lazy val spark: SparkSession = {
    val s = SparkSession.builder().master("local[2]")
      .config("spark.sql.shuffle.partitions", "2")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.extensions", "graft.engine.GraftExtensions")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
  override def afterAll(): Unit = spark.stop()

  test("the extension alone injects every registered function") {
    val failures = SqlSurfaceSpec.failures(spark)
    assert(failures.isEmpty, failures.mkString("\n"))
  }

  test("the extension alone collapses hex/unhex round-trips") {
    val p = spark.range(3).selectExpr("h3_unhex(h3_hex(id)) AS c")
      .queryExecution.optimizedPlan.toString
    assert(!p.contains("h3_unhex") && !p.contains("h3_hex"), p)
  }

  test("register on an extension-built session replaces no function and adds no second rule") {
    val registry = spark.sessionState.functionRegistry
    val ids = GraftFunctions.functions.map { case (n, _) => FunctionIdentifier(n) }
    val injected = ids.map(registry.lookupFunction(_).get)
    GraftFunctions.register(spark)
    GraftFunctions.register(spark)
    assert(!spark.experimental.extraOptimizations.contains(Expressions.CollapseH3Chains))
    val replaced = ids.zip(injected).collect {
      case (id, info) if !(registry.lookupFunction(id).get eq info) => id.funcName
    }
    assert(replaced.isEmpty, s"register replaced ${replaced.mkString(", ")}")
  }
}
