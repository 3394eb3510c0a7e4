package graft.perfbench

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables
import graft.functions.{PortableHash, Sketch, Text, TextFuncs, UnigramLm}

/** Layer probes of the traced curation run: the cost per row of each
  * native Column kernel, and the IVF model's train and assign steps.
  */
object Probes {
  val Kernels: Seq[(String, Column => Column)] = Seq(
    "minhash_sig" -> (c => PortableHash.md5_minhash_sig(c, 3, 64)),
    "simhash" -> (c => PortableHash.md5_simhash(c)),
    "pii_scrub" -> (c => Text.piiScrub(c)),
    "token_profile" -> (c => TextFuncs.langScores(c)),
    "bpe_count" -> (c => Text.bpeEstCount(c)),
    "lp_sum" -> (c => UnigramLm.lp_sum(c)),
    "shingle" -> (c => Sketch.shingle_hashes(c)),
    "winnow" -> (c => Sketch.winnow_fingerprints(c)))

  /** Rows each kernel is timed over: the documents, repeated. */
  val KernelRows = 200000L
  val Reps = 3

  private def noop(df: DataFrame): Double = {
    val t0 = System.nanoTime
    df.write.format("noop").mode("overwrite").save()
    (System.nanoTime - t0) / 1e9
  }

  /** ns per row of each kernel projected into the noop sink, minus a bare
    * projection of the same cached text column; fastest of [[Reps]] each,
    * since scheduling noise only ever adds time.
    */
  def kernels(spark: SparkSession, inputs: String): Map[String, Double] = {
    val docs = Tables.load(spark, inputs, "documents").select("text")
    val n = docs.count()
    val reps = math.max(1L, KernelRows / math.max(n, 1L))
    val text = docs.crossJoin(spark.range(reps).select(lit(1).as("__r")))
      .select("text").repartition(4).cache()
    val rows = text.count()
    try {
      val bare = (1 to Reps).map(_ => noop(text.select(length(col("text")).as("k")))).min
      Kernels.map { case (name, k) =>
        val t = (1 to Reps).map(_ => noop(text.select(k(col("text")).as("k")))).min
        name -> (t - bare) * 1e9 / rows
      }.toMap
    } finally text.unpersist()
  }

  /** Seconds to train the sized IVF model dedup_semantic uses, and to
    * assign every embedding to a cell with it (noop sink).
    */
  def ann(spark: SparkSession, inputs: String): Map[String, Double] = {
    val t0 = System.nanoTime
    val centroids = graft.ann.Ann.trainIvfSized(spark, inputs)
    val train = (System.nanoTime - t0) / 1e9
    val assign = noop(graft.ann.Ann.assignCellsJoin(
      Tables.embeddings(spark, inputs), centroids))
    Map("train_s" -> train, "assign_s" -> assign)
  }
}
