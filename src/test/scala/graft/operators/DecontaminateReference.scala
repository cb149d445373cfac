package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.functions.TextFunctions._

/** Relational formulations of [[Decontaminate.shingleOverlap]] and
  * [[Decontaminate.fuzzyLshOverlap]]: explode the corpus into shingle or
  * band rows, join them with the benchmark, aggregate per document and
  * left-join the aggregates back onto the corpus. They define the
  * statistics the per-document probes must reproduce (DecontaminateSpec
  * checks the two against each other on generated corpora). */
object DecontaminateReference {

  def shingleOverlap(train: DataFrame, bench: DataFrame,
      idCol: String, textCol: String, k: Int, threshold: Double): DataFrame = {
    val trainSh = train.select(col(idCol),
      coalesce(shingleHashes(col(textCol), k),
        array().cast("array<long>")).as("__sh"))
    val benchSh = bench
      .select(explode_outer(shingleHashes(col(textCol), k)).as("h"))
      .filter(col("h").isNotNull)
      .distinct()
    val overlaps = trainSh
      .select(col(idCol), explode_outer(col("__sh")).as("h"))
      .join(broadcast(benchSh), Seq("h"))
      .groupBy(idCol).agg(count(lit(1)).as("n_overlap"))
    val contaminated =
      if (threshold == 0.5) col("n_overlap") * 2 > col("n_shingles")
      else col("n_overlap").cast("double") > col("n_shingles").cast("double") * threshold
    trainSh
      .select(col(idCol), size(col("__sh")).cast("long").as("n_shingles"))
      .join(overlaps, Seq(idCol), "left")
      .withColumn("n_overlap", coalesce(col("n_overlap"), lit(0L)))
      .withColumn("contaminated", contaminated)
  }

  def fuzzyLshOverlap(train: DataFrame, bench: DataFrame,
      idCol: String, textCol: String, k: Int, numHashes: Int, bands: Int,
      threshold: Double): DataFrame = {
    val benchSide = bench
      .select(col(idCol).as("__bid"),
        minHashBandKeys(col(textCol), k, numHashes, bands).as("__bkeys"),
        coalesce(shingleHashes(col(textCol), k),
          array().cast("array<long>")).as("__bsh"))
      .select(col("__bid"), col("__bsh"),
        posexplode_outer(col("__bkeys")).as(Seq("__band", "__key")))
      .filter(col("__key").isNotNull)
    val trainSide = train
      .select(col(idCol),
        minHashBandKeys(col(textCol), k, numHashes, bands).as("__tkeys"),
        coalesce(shingleHashes(col(textCol), k),
          array().cast("array<long>")).as("__tsh"))
      .select(col(idCol), col("__tsh"),
        posexplode_outer(col("__tkeys")).as(Seq("__band", "__key")))
      .filter(col("__key").isNotNull)
    val pairs = trainSide
      .join(broadcast(benchSide), Seq("__band", "__key"))
      .select(col(idCol), col("__bid"),
        jaccardShingles(col("__tsh"), col("__bsh")).as("__j"))
      .filter(col("__j") >= threshold)
      .groupBy(col(idCol), col("__bid"))
      .agg(max(col("__j")).as("__j"))
    val perDoc = pairs
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_bench_matches"),
        max(col("__j")).as("max_jaccard"))
    train.select(col(idCol))
      .join(perDoc, Seq(idCol), "left")
      .select(col(idCol),
        coalesce(col("n_bench_matches"), lit(0L)).as("n_bench_matches"),
        coalesce(col("max_jaccard"), lit(0.0)).as("max_jaccard"),
        (coalesce(col("n_bench_matches"), lit(0L)) > 0L).as("contaminated"))
  }
}
