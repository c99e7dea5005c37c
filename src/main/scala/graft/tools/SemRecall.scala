package graft.tools

import org.apache.spark.sql.functions._

/** SemDeDup recall probe: runs the dedup_semantic scaffold at a corpus dir
  * and reports the PLANTED-pair recall split — found / same-cluster /
  * cross-cluster counts and the recall ratio — so the paper's documented
  * recall-vs-k trade is a measured curve across soak scales (sf0.1, 10×,
  * 30×) instead of an n_ratio footnote. The planted +0.05 pair is a
  * function of one row, so ground truth needs no join; every miss being
  * cross-cluster is the _checked twin's oracled contract — this tool just
  * adds the ratio and k to the record.
  *
  * Usage: tools/run.sh graft.tools.SemRecall <dir> [flat|twolevel]
  */
object SemRecall {
  def main(args: Array[String]): Unit = {
    val dir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val force = args.lift(1).contains("twolevel")
    val spark = graft.Sessions.local()
    graft.engine.GraftFunctions.register(spark)

    val (quant, _, pairsPlan) =
      graft.queries.DedupQueries.semanticScaffold(spark, dir, force)
    val pairs = pairsPlan.localCheckpoint()
    // the planted geometry comes from the checked twins' ONE owner
    // (DedupQueries.plantedProbe), so this probe can never drift from
    // the oracled contract it reports on
    val planted = graft.queries.DedupQueries.plantedProbe(spark, dir, quant)
      .localCheckpoint()
    val agg = planted.agg(
      count(lit(1)).as("n_emb"),
      sum(when(col("ge_t"), 1L).otherwise(0L)).as("ge_t"),
      sum(when(col("ge_t") && col("same_cluster"), 1L).otherwise(0L)).as("same"),
      sum(when(col("ge_t") && !col("same_cluster"), 1L).otherwise(0L)).as("cross"))
      .head()
    val found = planted.where(col("ge_t"))
      .select(col("vec_id").as("a"), (col("vec_id") + 100000).as("b"))
      .join(pairs.select("a", "b"), Seq("a", "b")).count()
    val (nEmb, geT, same, cross) =
      (agg.getLong(0), agg.getLong(1), agg.getLong(2), agg.getLong(3))
    val k = graft.operators.IvfIndex.kFor(2 * nEmb)
    def num(v: Double) =
      String.format(java.util.Locale.ROOT, "%.4f", Double.box(v))
    println(
      s"""{"probe":"sem_recall","dir":"$dir","quantizer":"${if (force) "twolevel" else "auto"}",""" +
      s""""n_emb":$nEmb,"k":$k,"planted_ge_t":$geT,"found":$found,""" +
      s""""same_cluster":$same,"cross_cluster":$cross,""" +
      s""""recall":${num(if (geT == 0) 0.0 else found.toDouble / geT)},""" +
      s""""within_cluster_complete":${found == same}}""")
    spark.stop()
  }
}
