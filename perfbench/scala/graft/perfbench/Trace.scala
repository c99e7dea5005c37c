package graft.perfbench

import scala.collection.mutable.ArrayBuffer
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.col
import org.apache.spark.graft.ListenerDrain
import graft.engine.{Cols, GraftFunctions, GraftJob, Indexer, PolySplit, Resolver, Validator}
import graft.geo.H3Geo
import graft.model.{GeometryType, Method, VectorInput}

/** The traced unit: `GraftJob.run`'s call sequence plus the CLI's writes,
  * repeated from outside with a span around each public call. A span sets
  * its name as the Spark job group, so [[Meter]] charges the stages its
  * actions run to it.
  *
  * Spark is lazy, so a layer's self time is the difference between
  * successive *prefixes*: a noop action over the loaded input (scan), over
  * the validated frame (scan + validator), the count that materialises the
  * persisted indexed frame (scan + validator + indexer), and a noop over
  * the resolved frame built on the persisted indexed frames (resolver).
  * The prefix actions are work the untraced job does not do; their time is
  * reported as `prefix_s`, and together with the self times they account
  * for the traced wall up to the driver-side gaps between spans
  * (`unattributed_s`).
  */
object Trace {
  final case class Span(name: String, parent: String, startNs: Long, endNs: Long) {
    def seconds: Double = (endNs - startNs) / 1e9
  }

  def run(spark: SparkSession, meter: Meter, dir: String, warmJobS: Double): Map[String, Any] = {
    val job = Main.loadJob(dir)
    val vectors = job.inputs.collect { case v: VectorInput => v }
    val runId = java.util.UUID.randomUUID().toString.take(8)
    val sc = spark.sparkContext
    val spans = ArrayBuffer.empty[Span]
    def span[T](name: String)(body: => T): T = {
      sc.setJobGroup(name, s"perfbench $runId $name")
      val t0 = System.nanoTime()
      try body finally { spans += Span(name, "job", t0, System.nanoTime()); sc.clearJobGroup() }
    }

    ListenerDrain.drain(sc)
    val before = snapshot(meter)
    val miss0 = H3Geo.memoMisses.get()
    val area0 = H3Geo.areaMisses.get()
    val gc0 = graft.Bench.gcMillis
    val t0 = System.nanoTime()
    GraftFunctions.register(spark)
    val raw = vectors.map { in =>
      in.name -> span(s"sources.scan/${in.name}") {
        val df = GraftJob.loadInput(spark, in); Main.noop(df); df
      }
    }.toMap
    val validated = vectors.map { in =>
      in.name -> span(s"validator.pk/${in.name}")(Validator.validate(spark, in, raw(in.name)))
    }.toMap
    vectors.foreach(in => span(s"validator.prefix/${in.name}")(Main.noop(validated(in.name))))
    val indexed = vectors.map { in =>
      in.name -> span(s"indexer.plan/${in.name}")(
        Indexer.index(spark, in, validated(in.name), job.h3Resolution).persist())
    }.toMap
    val pairsOf = vectors.map(in => in -> span(s"indexer.prefix/${in.name}")(indexed(in.name).count()))
    val pairs = pairsOf.map(_._2).sum
    // pairs whose ratio reads the CellInfo memo (WITHIN pairs never do)
    val clipPairs = pairsOf.collect { case (in, n) if in.method != Method.Within => n }.sum
    val resolved = span("resolver.prefix") {
      val r =
        if (vectors.size == 1)
          Resolver.resolveSingle(spark, indexed(vectors.head.name),
            vectors.head.inputColumns, job.h3Resolution)
        else
          Resolver.resolve(spark,
            vectors.map(in => Resolver.resolveInput(indexed(in.name), in.inputColumns)),
            job.h3Resolution)
      Main.noop(r); r
    }
    vectors.foreach { in =>
      span(s"write.indexed/${in.name}")(
        GraftJob.write(indexed(in.name), s"${job.outputPath}/indexed/${in.name}"))
    }
    span("write.resolved")(GraftJob.write(resolved, s"${job.outputPath}/resolved"))
    val wallNs = System.nanoTime() - t0
    val root = Span("job", "", t0, t0 + wallNs)
    val gcS = (graft.Bench.gcMillis - gc0) / 1e3
    val memoMisses = H3Geo.memoMisses.get() - miss0
    val areaMisses = H3Geo.areaMisses.get() - area0
    ListenerDrain.drain(sc)
    val after = snapshot(meter)

    // counts that check the layers, outside the traced wall
    val rowsDropped = vectors.map(in =>
      Validator.quarantine(spark, in, raw(in.name)).count()).sum
    val rowsValid = vectors.map(in => validated(in.name).count()).sum
    val distinctCells = indexed.values.map(_.select(Cols.H3Index)).reduce(_.union(_))
      .distinct().count()
    val split = vectors.exists(in => in.geometryType == GeometryType.Polygon &&
      PolySplit.shouldSplit(validated(in.name).select(col(Cols.GeomWkt)), Cols.GeomWkt,
        job.h3Resolution))
    val resolvedCells = spark.read.parquet(s"${job.outputPath}/resolved").count()
    indexed.values.foreach(_.unpersist(true))

    def secs(prefix: String) = spans.filter(_.name.startsWith(prefix)).map(_.seconds).sum
    def groups(prefix: String) = spans.map(_.name).filter(_.startsWith(prefix)).map(meter.group)
    def cpu(prefix: String) = groups(prefix).map(_.cpuNs).sum / 1e9
    val scanS = secs("sources.scan/")
    val valPrefixS = secs("validator.prefix/")
    val idxPrefixS = secs("indexer.prefix/")
    val resolverS = secs("resolver.prefix")
    val self = Map(
      "sources.scan_s" -> scanS,
      "validator.pk_s" -> secs("validator.pk/"),
      "validator.self_s" -> (valPrefixS - scanS),
      "indexer.plan_s" -> secs("indexer.plan/"),
      "indexer.self_s" -> (idxPrefixS - valPrefixS),
      "resolver.self_s" -> resolverS,
      "write.indexed_s" -> secs("write.indexed/"),
      "write.resolved_s" -> (secs("write.resolved") - resolverS))
    val selfSum = self.values.sum
    val prefixS = scanS + valPrefixS + resolverS
    val spanSum = spans.map(_.seconds).sum
    val wallS = wallNs / 1e9
    val written = outputFiles(job.outputPath)
    val rowsIn = groups("sources.scan/").map(_.recordsRead).sum
    val layers = self ++ Map(
      "sources.rows_in" -> rowsIn,
      "validator.cpu_s" -> (cpu("validator.prefix/") - cpu("sources.scan/")),
      "validator.rows_dropped" -> (rowsIn - rowsValid),
      "validator.quarantine_rows" -> rowsDropped,
      "indexer.cpu_s" -> (cpu("indexer.prefix/") - cpu("validator.prefix/")),
      "indexer.pairs" -> pairs,
      "indexer.distinct_cells" -> distinctCells,
      "indexer.split" -> (if (split) 1L else 0L),
      "indexer.task_skew" -> {
        val g = groups("indexer.prefix/").filter(_.stages.nonEmpty)
        if (g.isEmpty) 1.0 else g.map(_.taskSkew).max
      },
      "indexer.memo_misses" -> memoMisses,
      "indexer.memo_hit_ratio" ->
        (if (clipPairs == 0) 0.0 else 1.0 - memoMisses.toDouble / clipPairs),
      "indexer.area_misses" -> areaMisses,
      "resolver.cpu_s" -> cpu("resolver.prefix"),
      "resolver.cells" -> resolvedCells,
      "resolver.shuffle_mb" -> groups("resolver.prefix").map(_.shuffleWriteBytes).sum / 1048576.0,
      "write.mb" -> written.map(_._2).sum / 1048576.0,
      "write.files" -> written.size.toLong,
      "spark.gc_s" -> gcS,
      "spark.shuffle_write_mb" -> (after("shuffle") - before("shuffle")) / 1048576.0,
      "spark.spill_mb" -> (after("spill") - before("spill")) / 1048576.0,
      "spark.tasks" -> (after("tasks") - before("tasks")),
      "trace.wall_s" -> wallS,
      "trace.self_sum_s" -> selfSum,
      "trace.prefix_s" -> prefixS,
      "trace.unattributed_s" -> (wallS - spanSum),
      "trace.job_s" -> warmJobS,
      "trace.overhead_s" -> (wallS - warmJobS))
    Map("variant" -> dir, "run_id" -> runId, "layers" -> layers,
      "spans" -> (root +: spans.toSeq).map(s => Map("name" -> s.name, "parent" -> s.parent,
        "run_id" -> runId, "start_s" -> (s.startNs - t0) / 1e9, "end_s" -> (s.endNs - t0) / 1e9)))
  }

  private def snapshot(m: Meter): Map[String, Long] = Map(
    "shuffle" -> m.total.shuffleWriteBytes, "spill" -> m.total.spillBytes,
    "tasks" -> m.total.tasks)

  /** (path, bytes) of every parquet file under `dir`. */
  private def outputFiles(dir: String): Seq[(String, Long)] = {
    val s = java.nio.file.Files.walk(java.nio.file.Paths.get(dir))
    try {
      import scala.jdk.CollectionConverters._
      s.iterator().asScala.filter(p => p.toString.endsWith(".parquet"))
        .map(p => p.toString -> java.nio.file.Files.size(p)).toSeq
    } finally s.close()
  }
}
