package graft.tools

import org.apache.spark.sql.{DataFrame, SaveMode}
import org.apache.spark.sql.expressions.UserDefinedFunction
import org.apache.spark.sql.functions._

/** Live demonstration of the simhash bucket-scheme switch at real scale:
  * expands the sf0.1 documents table ~105× (each replica's text goes
  * through a k-seeded alphabet permutation, so replicas are textually
  * unrelated and the planted near-dup rate stays constant), which puts
  * docsWithDups past `Dedup.SimHashBlockThreshold` (2²⁰) — the REGISTERED
  * `dedup_simhash` then takes the Manku 3-of-6 block-key path. The tool
  * runs both schemes over the same corpus and reports wall/shuffle and an
  * output digest, proving scheme-equivalence at a corpus size where it
  * matters rather than only in the spec-scale fixture.
  */
object SimHashScaleDemo {
  val DemoDir = "/tmp/graft_simhash_x105"
  val Reps = 105

  def main(args: Array[String]): Unit = {
    val spark = graft.Sessions.local()
    val src = args.headOption.getOrElse("/root/testdata/sf0.1")

    if (!new java.io.File(s"$DemoDir/_DONE").exists()) {
      new java.io.File(DemoDir).mkdirs()
      val docs = spark.read.parquet(s"$src/documents.parquet")
      val alpha = "abcdefghijklmnopqrstuvwxyz"
      val parts = (0 until Reps).map { k =>
        val perm =
          if (k == 0) alpha
          else new scala.util.Random(k).shuffle(alpha.toList).mkString
        docs.select(
          (col("doc_id") + lit(k * 10000000L)).as("doc_id"),
          (if (k == 0) col("text") else translate(col("text"), alpha, perm))
            .as("text"),
          col("lang"), col("source"), col("n_chars"))
      }
      parts.reduce(_.unionByName(_)).repartition(32)
        .write.mode(SaveMode.Overwrite).parquet(s"$DemoDir/documents.parquet")
      new java.io.FileOutputStream(s"$DemoDir/_DONE").close()
    }

    val meter = new graft.Bench.StageMeter(spark)

    val base = spark.read.parquet(s"$DemoDir/documents.parquet")
      .select("doc_id", "text")
    val perturbed = base.select(
      (col("doc_id") + 2000000000L).as("doc_id"),
      concat(expr("substring(text, instr(text, ' ') + 1)"), lit(" zzz")).as("text"))
    val corpus = base.unionByName(perturbed)
    println(s"corpus docs = ${corpus.count()} (threshold = ${graft.operators.Dedup.SimHashBlockThreshold})")

    import graft.operators.Dedup.{hamming64Udf, simHash64Udf}
    def pairsWith(keyUdf: UserDefinedFunction): DataFrame = {
      val sigs = corpus
        .withColumn("sh", simHash64Udf(col("text")))
        .withColumn("chunks", keyUdf(col("text")))
      val buckets = sigs.select(col("doc_id"), col("sh"),
        posexplode(col("chunks")).as(Seq("chunk", "ch")))
      buckets.as("x").join(buckets.as("y"),
          col("x.chunk") === col("y.chunk") && col("x.ch") === col("y.ch") &&
          col("x.doc_id") < col("y.doc_id"))
        .select(col("x.doc_id").as("a"), col("y.doc_id").as("b"),
          col("x.sh").as("sha"), col("y.sh").as("shb"))
        .distinct()
        .withColumn("hamming", hamming64Udf(col("sha"), col("shb")))
        .where(col("hamming") <= 3)
        .select("a", "b", "hamming")
    }

    def digest(df: DataFrame): (Long, String, Double, Double) = {
      val s0 = meter.snapshot(); val t0 = System.nanoTime()
      val row = df.agg(count(lit(1)).cast("long").as("n"),
        md5(concat_ws("|", sort_array(collect_list(
          concat_ws(":", col("a"), col("b"), col("hamming")))))).as("dg"))
        .collect()(0)
      val sec = (System.nanoTime() - t0) / 1e9
      (row.getLong(0), row.getString(1), sec, (meter.snapshot() - s0).shuffleWrite / 1048576.0)
    }

    val (nC, dC, tC, mC) = digest(pairsWith(graft.operators.Dedup.simHashChunksUdf))
    println(f"chunks (4 x 16-bit)   : pairs=$nC digest=$dC wall=$tC%.1fs shuffle=$mC%.1fMB")
    val (nB, dB, tB, mB) = digest(pairsWith(graft.operators.Dedup.simHashBlockKeysUdf))
    println(f"blocks (Manku 3-of-6) : pairs=$nB digest=$dB wall=$tB%.1fs shuffle=$mB%.1fMB")
    println(s"outputs identical = ${nC == nB && dC == dB}")

    // the REGISTERED query must pick the block path at this corpus size
    val registered = graft.SparkEntry.registry.find(_.name == "dedup_simhash").get
    val s0 = meter.snapshot(); val t0 = System.nanoTime()
    registered.fn(spark, DemoDir).write.format("noop").mode("overwrite").save()
    val sec = (System.nanoTime() - t0) / 1e9
    println(f"registered dedup_simhash @ x105: wall=$sec%.1fs " +
      f"shuffle=${(meter.snapshot() - s0).shuffleWrite / 1048576.0}%.1fMB (scheme auto-switches past threshold)")
    spark.stop()
  }
}
