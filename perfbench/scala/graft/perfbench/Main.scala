package graft.perfbench

import java.nio.file.{Files, Paths}
import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._
import com.fasterxml.jackson.databind.ObjectMapper
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.graft.ListenerDrain
import graft.Sessions
import graft.engine.{GraftFunctions, GraftJob}
import graft.geo.H3Geo
import graft.model.{Job, JobConfig, JobStatus}

/** JVM side of the benchmark. One process per call, driven by perfbench/run.py:
  *
  *   Main setup   <config.json>  set up a session, report setup_s, exit
  *   Main measure <config.json>  setup_s, one cold unit, warm units for
  *                               `seconds` (at least `min_warm`)
  *   Main trace   <config.json>  warm units, one traced unit with spans,
  *                               then kernel µs/op on unseen features
  *
  * A unit is one whole job as `graft.cli.Main --run-all` runs it:
  * `GraftJob.run`, then `GraftJob.write` for every indexed frame and for
  * the resolved frame. Each unit runs on its own variant directory (see
  * gen.py), so its cells are new to the JVM's memos. The result is a JSON
  * object written to the config's `result` path; run.py checks the outputs
  * and prints the metrics.
  */
object Main {
  final case class UnitRun(variant: String, wallS: Double, cpuS: Double,
                           ok: Boolean, error: String) {
    def json: Map[String, Any] = Map("variant" -> variant, "wall_s" -> wallS,
      "cpu_s" -> cpuS, "ok" -> ok, "error" -> error)
  }

  def loadJob(dir: String): Job =
    JobConfig.fromJson(Files.readString(Paths.get(dir, "job.json")))
      .fold(es => throw new IllegalArgumentException(es.mkString("; ")), identity)

  def noop(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()

  /** One timed whole job; failures are recorded, not thrown. The cell and
    * area memos start empty, so every unit pays the same per-cell
    * construction cost whatever ran before it in this JVM. */
  def runUnit(spark: SparkSession, meter: Meter, dir: String): UnitRun = {
    val job = loadJob(dir)
    H3Geo.memoClear()
    ListenerDrain.drain(spark.sparkContext)
    val cpu0 = meter.total.cpuNs
    var indexed = Map.empty[String, DataFrame]
    val t0 = System.nanoTime()
    val outcome = try {
      val (ix, resolved, state) = GraftJob.run(spark, job)
      indexed = ix
      ix.foreach { case (name, df) => GraftJob.write(df, s"${job.outputPath}/indexed/$name") }
      GraftJob.write(resolved, s"${job.outputPath}/resolved")
      if (state.status == JobStatus.CompletedResolver) "" else s"job ended in ${state.status}"
    } catch { case e: Throwable => s"${e.getClass.getSimpleName}: ${e.getMessage}" }
    val wall = (System.nanoTime() - t0) / 1e9
    indexed.values.foreach(_.unpersist(true))
    ListenerDrain.drain(spark.sparkContext)
    UnitRun(dir, wall, (meter.total.cpuNs - cpu0) / 1e9, outcome.isEmpty, outcome)
  }

  /** Warm units on `dirs` in order until `seconds` have passed and at least
    * `minUnits` ran (or the variants run out). */
  def warmUnits(spark: SparkSession, meter: Meter, dirs: Seq[String],
                seconds: Double, minUnits: Int): Seq[UnitRun] = {
    val out = ArrayBuffer.empty[UnitRun]
    val t0 = System.nanoTime()
    val it = dirs.iterator
    while (it.hasNext && (out.size < minUnits || (System.nanoTime() - t0) / 1e9 < seconds))
      out += runUnit(spark, meter, it.next())
    out.toSeq
  }

  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) Double.NaN else {
      val s = xs.sorted; val n = s.length
      if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
    }

  /** Peak resident set of this process in MB (VmHWM). */
  def peakRssMb: Double =
    Files.readAllLines(Paths.get("/proc/self/status")).asScala
      .find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toDouble / 1024).getOrElse(Double.NaN)

  /** The configuration that decides the numbers, recorded in every result. */
  def environment(spark: SparkSession): Map[String, Any] = {
    val (calCpu, calSpark) = graft.Bench.hostCal(spark)
    val conf = spark.sparkContext.getConf
    Map(
      "heap_mb" -> Runtime.getRuntime.maxMemory / 1048576.0,
      "master" -> spark.sparkContext.master,
      "parallelism" -> spark.sparkContext.defaultParallelism,
      "cellinfo_memo_cap" -> H3Geo.memoStripeCap.toLong * H3Geo.MemoStripes,
      "area_memo_cap" -> H3Geo.areaStripeCap.toLong * H3Geo.MemoStripes,
      "spark_graft_env" -> sys.env.keys.filter(_.startsWith("SPARK_GRAFT_")).toSeq.sorted,
      "warehouse_dir" -> conf.get("spark.sql.warehouse.dir", ""),
      "local_dir" -> conf.get("spark.local.dir", ""),
      "java" -> System.getProperty("java.version"),
      "host_cal_cpu_s" -> calCpu,
      "host_cal_spark_s" -> calSpark)
  }

  def main(args: Array[String]): Unit = {
    require(args.length == 2, "usage: Main setup|measure|trace <config.json>")
    val cfg = new ObjectMapper().readTree(new java.io.File(args(1)))
    val spark = Sessions.local(cfg.get("cores").asText)
    GraftFunctions.register(spark)
    val setupS = (System.currentTimeMillis() -
      java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime) / 1e3
    val meter = new Meter
    spark.sparkContext.addSparkListener(meter)
    val variants = cfg.get("variants").elements().asScala.map(_.asText).toSeq
    val seconds = cfg.get("seconds").asDouble
    val minWarm = cfg.get("min_warm").asInt
    val result: Map[String, Any] = args(0) match {
      case "setup" => Map("setup_s" -> setupS)
      case "measure" =>
        val cold = runUnit(spark, meter, variants.head)
        val warm = warmUnits(spark, meter, variants.tail, seconds, minWarm)
        Map("setup_s" -> setupS, "cold" -> cold.json, "warm" -> warm.map(_.json),
          "env" -> environment(spark), "peak_rss_mb" -> peakRssMb)
      case "trace" =>
        // variants: cold unit, warm units..., the traced unit, the kernel features
        val cold = runUnit(spark, meter, variants.head)
        val warm = warmUnits(spark, meter, variants.slice(1, variants.size - 2), seconds, minWarm)
        val jobS = median(warm.filter(_.ok).map(_.wallS))
        H3Geo.memoClear()
        val traced = Trace.run(spark, meter, variants(variants.size - 2), jobS)
        val kernels = Kernels.run(spark, loadJob(variants.last))
        Map("setup_s" -> setupS, "cold" -> cold.json, "warm" -> warm.map(_.json),
          "trace" -> traced, "kernels" -> kernels, "env" -> environment(spark),
          "peak_rss_mb" -> peakRssMb)
      case other => throw new IllegalArgumentException(s"unknown mode $other")
    }
    Files.writeString(Paths.get(cfg.get("result").asText), Json.render(result))
    // skip the orderly shutdown (~1 s a JVM): every file this process wrote
    // is under run.py's work directory, which run.py deletes
    Runtime.getRuntime.halt(0)
  }
}

/** Minimal JSON writer for the result maps (numbers, strings, booleans,
  * sequences and nested string-keyed maps). */
object Json {
  def render(v: Any): String = v match {
    case null => "null"
    case m: Map[_, _] => m.map { case (k, x) => quote(k.toString) + ":" + render(x) }
      .mkString("{", ",", "}")
    case s: Seq[_] => s.map(render).mkString("[", ",", "]")
    case s: String => quote(s)
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case n: Int => n.toString
    case n: Long => n.toString
    case other => quote(other.toString)
  }
  private val mapper = new ObjectMapper()
  private def quote(s: String): String = mapper.writeValueAsString(s)
}
