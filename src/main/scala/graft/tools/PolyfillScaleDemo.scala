package graft.tools

import org.apache.spark.scheduler.{SparkListener, SparkListenerTaskEnd}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.engine.{GraftFunctions, Indexer, PolySplit, Validator}
import graft.model.{GeometryType, Method, VectorInput}

/** Live demonstration of the split-polyfill switch on the skew case it
  * exists for: a mixed polygon workload where a few country-sized blobs
  * polyfill tens of thousands of cells each next to thousands of small
  * squares. The single-generator plan runs each giant's polyfill + ratio
  * chain inside ONE task (the stage wall IS the giant); past
  * PolySplit.splitThreshold the registered Indexer path auto-switches to
  * cover tasks + hash shuffle + bounded descendant enumeration. The tool
  * runs BOTH plans over the same input and reports wall, max/median task
  * time, and an output digest proving set-identical results.
  */
object PolyfillScaleDemo {

  def main(args: Array[String]): Unit = {
    val spark = graft.Sessions.local()
    GraftFunctions.register(spark)
    import spark.implicits._

    // 3 giant non-convex blobs (~60k res-8 cells each) + 2000 small squares
    val rnd = new scala.util.Random(4242)
    def blobWkt(lat: Double, lng: Double, radiusKm: Double, n: Int): String = {
      val pts = (0 until n).map { i =>
        val az = 2 * math.Pi * i / n
        val r = radiusKm * (0.7 + 0.6 * rnd.nextDouble()) / graft.h3.H3.EarthRadiusKm
        val p = graft.h3.LatLng.degrees(lat, lng).destination(az, r)
        f"${math.toDegrees(p.lng)}%.6f ${math.toDegrees(p.lat)}%.6f"
      }
      s"POLYGON ((${(pts :+ pts.head).mkString(", ")}))"
    }
    val giants = Seq(
      (900001L, blobWkt(46.0, 8.0, 120, 24)),
      (900002L, blobWkt(-23.0, 135.0, 110, 28)),
      (900003L, blobWkt(58.0, -105.0, 130, 20)))
    val smalls = (0 until 2000).map { i =>
      val lat = -55 + 110 * rnd.nextDouble(); val lng = -175 + 350 * rnd.nextDouble()
      val d = 0.02
      (i.toLong, s"POLYGON (($lng $lat, ${lng + d} $lat, ${lng + d} ${lat + d}, " +
        s"$lng ${lat + d}, $lng $lat))")
    }
    val polys = (giants ++ smalls).toDF("geo_id", "geometry")
      .withColumn("balance", lit(1.0)).repartition(32)
      .localCheckpoint()
    val in = VectorInput("demo_polys", Some(""), None, None, None,
      "geo_id", GeometryType.Polygon, Some("geometry"), None, None,
      Method.PctArea, Seq("balance"))

    val taskStats = new java.util.concurrent.ConcurrentHashMap[Int, (Long, Long, Long)]()
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onTaskEnd(te: SparkListenerTaskEnd): Unit = {
        val d = te.taskInfo.duration
        taskStats.merge(te.stageId, (d, d, 1L),
          (a, b) => (math.max(a._1, b._1), a._2 + b._2, a._3 + b._3))
      }
    })

    def runOnce(label: String): (Long, String, Double) = {
      taskStats.clear()
      org.apache.spark.graft.ListenerDrain.drain(spark.sparkContext)
      val t0 = System.nanoTime()
      val out = Indexer.index(spark, in, Validator.validate(spark, in, polys), res = 8)
      val row = out.agg(count(lit(1)).as("n"),
        md5(concat_ws("|", sort_array(collect_list(concat_ws(":",
          col("geo_id"), col("h3_index"), round(col("ratio") * 1e9).cast("long")))))).as("dg"))
        .collect()(0)
      val sec = (System.nanoTime() - t0) / 1e9
      org.apache.spark.graft.ListenerDrain.drain(spark.sparkContext)
      val worst = {
        import scala.jdk.CollectionConverters._
        taskStats.asScala.values.toSeq.sortBy(-_._1).take(3)
      }
      println(f"== $label%-14s rows=${row.getLong(0)} digest=${row.getString(1).take(12)} wall=$sec%.1fs")
      worst.foreach { case (mx, sum, n) =>
        println(f"   stage tasks=$n%4d maxTask=${mx / 1000.0}%6.2fs meanTask=${sum / 1000.0 / n}%6.2fs skew=${mx.toDouble * n / sum}%.1fx")
      }
      (row.getLong(0), row.getString(1), sec)
    }

    // force the legacy single-generator plan, then the shipped threshold
    val (n1, d1, t1) =
      PolySplit.withThreshold(Double.MaxValue)(runOnce("single-task"))
    val (n2, d2, t2) = runOnce("split")
    println(s"outputs identical = ${n1 == n2 && d1 == d2}")
    println(f"speedup = ${t1 / t2}%.2fx (threshold=${PolySplit.DefaultSplitThreshold}%.0f, giants estimate ~60k cells each)")
    spark.stop()
  }
}
