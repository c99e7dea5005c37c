package graft.cli

import java.nio.file.{Files, Paths}
import scala.util.control.NonFatal
import graft.Sessions
import graft.engine.{GraftJob, Validator, GraftFunctions}
import graft.model.{JobConfig, JobState, JobStatus}

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
    // the status line is printed only once the work it names has run: a
    // failed run or write ends the job Failed, with its cause, and exits 1
    val ok = try {
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
          true
        case _ => runAndWrite(spark, job, mode)
      }
    } finally spark.stop()
    if (!ok) sys.exit(1)
  }

  /** Run the job, write its frames and print the final state; false when
    * the run or a write failed.
    */
  private def runAndWrite(spark: org.apache.spark.sql.SparkSession,
                          job: graft.model.Job, mode: String): Boolean = {
    val (indexed, resolved, state) =
      try GraftJob.run(spark, job)
      catch { case e: GraftJob.JobFailed => report(e.state); return false }
    val done = try {
      indexed.foreach { case (name, df) =>
        GraftJob.write(df, s"${job.outputPath}/indexed/$name")
        println(s"[indexed] $name written")
      }
      if (mode == "run-all") {
        GraftJob.write(resolved, s"${job.outputPath}/resolved")
        println(s"[resolved] written")
        state
      } else state.advance(JobStatus.CompletedIndexer)
    } catch {
      case NonFatal(e) => state.fail(s"${e.getClass.getSimpleName}: ${e.getMessage}")
    } finally indexed.values.foreach(_.unpersist(true))
    report(done)
    done.status != JobStatus.Failed
  }

  private def report(state: JobState): Unit =
    println(s"[job ${state.id}] status=${state.status}" +
      state.errorMessage.fold("")(m => s" error=$m"))
}
