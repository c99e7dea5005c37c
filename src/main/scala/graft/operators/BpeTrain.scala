package graft.operators

import org.apache.spark.sql.functions._
import org.apache.spark.sql.{DataFrame, SparkSession}

/** BPE merge-rule training (the published Sennrich et al. 2016 algorithm):
  * repeatedly count adjacent symbol pairs over the corpus and fuse the most
  * frequent pair. Trained on the WORD-FREQUENCY table, not raw tokens —
  * the aggregation that builds it is the only pass over the corpus, and
  * every iteration after that runs on vocab-sized data (at 100 TB: corpus
  * billions of rows, vocab ~10M — the iterations never touch the corpus
  * again). Each iteration: one pair-count aggregate, one top-1 to the
  * driver (count desc, pair asc tie-break, so training is deterministic),
  * one fuse map; lineage truncated per iteration.
  */
object BpeTrain {

  val EndMark = "</w>"

  /** Fuse every non-overlapping adjacent (a, b) occurrence, left to right —
    * the exact merge step of the reference algorithm.
    */
  def fusePair(syms: Seq[String], a: String, b: String): Seq[String] = {
    val out = scala.collection.mutable.ArrayBuffer.empty[String]
    var i = 0
    while (i < syms.length) {
      if (i + 1 < syms.length && syms(i) == a && syms(i + 1) == b) {
        out += a + b; i += 2
      } else { out += syms(i); i += 1 }
    }
    out.toSeq
  }

  /** Word-frequency table with each word exploded to char symbols + the
    * end-of-word marker.
    */
  def wordFreq(docs: DataFrame, textCol: String): DataFrame =
    docs.select(explode(split(col(textCol), " +")).as("w"))
      .where(length(col("w")) > 0)
      .groupBy("w").agg(count(lit(1)).as("freq"))
      .withColumn("syms", expr(s"concat(split(w, ''), array('$EndMark'))"))
      .select("syms", "freq")

  private val fuse = udf((syms: Seq[String], a: String, b: String) => fusePair(syms, a, b))
    .withName("bpe_fuse")

  /** Learn `merges` rules. Returns them in training order. */
  def train(spark: SparkSession, docs: DataFrame, textCol: String,
            merges: Int): Seq[(String, String)] = {
    var cur = wordFreq(docs, textCol).localCheckpoint()
    val rules = scala.collection.mutable.ArrayBuffer.empty[(String, String)]
    var i = 0
    var done = false
    while (i < merges && !done) {
      // Words fully merged to one symbol contribute no pairs; excluding
      // them also avoids sequence(1, 0) descending into element_at(syms, 2)
      // out-of-bounds errors once a frequent word collapses entirely.
      val best = cur
        .where(size(col("syms")) > 1)
        .select(col("freq"), explode(expr(
          "transform(sequence(1, size(syms) - 1), " +
            "j -> struct(element_at(syms, j) AS a, element_at(syms, j + 1) AS b))")).as("p"))
        .groupBy("p.a", "p.b").agg(sum("freq").as("n"))
        .orderBy(col("n").desc, col("a"), col("b"))
        .head(1)
      if (best.isEmpty) done = true
      else {
        val (a, b) = (best(0).getString(0), best(0).getString(1))
        rules += ((a, b))
        cur = cur.withColumn("syms",
          fuse(col("syms"), lit(a), lit(b))).localCheckpoint()
      }
      i += 1
    }
    rules.toSeq
  }

  /** Training-order merge table as a DataFrame (rank, left, right). */
  def trainDf(spark: SparkSession, docs: DataFrame, textCol: String,
              merges: Int): DataFrame = {
    import spark.implicits._
    train(spark, docs, textCol, merges).zipWithIndex
      .map { case ((a, b), r) => (r.toLong + 1, a, b) }
      .toDF("rank", "left", "right")
  }

  /** Tokenize one word with an ordered rule list (the APPLY side of the
    * tokenizer: chars + end-marker, then each trained merge in training
    * order — the published BPE inference procedure).
    */
  def applyWord(word: String, rules: Seq[(String, String)]): Seq[String] = {
    var syms: Seq[String] = word.map(_.toString) :+ EndMark
    rules.foreach { case (a, b) => syms = fusePair(syms, a, b) }
    syms
  }
}
