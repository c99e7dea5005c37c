package graft.cli

import java.nio.file.{Files, Paths}
import graft.Sessions
import graft.engine.{GraftJob, Validator, GraftFunctions}
import graft.model.JobConfig

/** CLI with the reference's argument surface (main.py:101-132):
  *   --yaml-path <file> | --json-input <text>   (mutually exclusive)
  *   --validate-only | --index-only | --run-all (default --run-all)
  */
object Main {
  def main(args: Array[String]): Unit = {
    var yamlPath: Option[String] = None
    var jsonInput: Option[String] = None
    var mode = "run-all"
    var i = 0
    while (i < args.length) {
      args(i) match {
        case "--yaml-path"  => yamlPath = Some(args(i + 1)); i += 2
        case "--json-input" => jsonInput = Some(args(i + 1)); i += 2
        case "--validate-only" => mode = "validate"; i += 1
        case "--index-only"    => mode = "index"; i += 1
        case "--run-all"       => mode = "run-all"; i += 1
        case other => sys.error(s"unknown argument $other")
      }
    }
    require(yamlPath.isDefined ^ jsonInput.isDefined,
      "exactly one of --yaml-path / --json-input is required")

    val parsed = yamlPath match {
      case Some(p) => JobConfig.fromYaml(Files.readString(Paths.get(p)))
      case None    => JobConfig.fromJson(jsonInput.get)
    }
    val job = parsed.fold(
      errs => { errs.foreach(e => System.err.println(s"[config] $e")); sys.exit(2) },
      identity)

    val spark = Sessions.local()
    GraftFunctions.register(spark)
    mode match {
      case "validate" =>
        job.inputs.foreach {
          case in: graft.model.VectorInput =>
            val n = Validator.validate(spark, in, GraftJob.loadInput(spark, in)).count()
            println(s"[validated] ${in.name}: $n rows")
          case r: graft.model.RasterInput =>
            println(s"[validated] ${r.name}: raster (${r.s3Uri}) — not indexed")
        }
      case _ =>
        val (indexed, resolved, state) = GraftJob.run(spark, job)
        indexed.foreach { case (name, df) =>
          GraftJob.write(df, s"${job.outputPath}/indexed/$name")
          println(s"[indexed] $name written")
        }
        if (mode == "run-all") {
          GraftJob.write(resolved, s"${job.outputPath}/resolved")
          println(s"[resolved] written")
        }
        indexed.values.foreach(_.unpersist(true))
        println(s"[job ${state.id}] status=${state.status}")
    }
    spark.stop()
  }
}
