package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.functions.NativeText
import graft.functions.TextFunctions._

/** Benchmark decontamination: flag training documents whose n-gram
  * content overlaps a (small) evaluation/benchmark set — the standard
  * guard against test-set leakage in a training-data pipeline.
  *
  * Plan shape, designed for the 100 TB asymmetry (training corpus huge,
  * benchmark tiny): the benchmark side is reduced to an index on the
  * cluster, collected to the driver once per call and broadcast with
  * `sparkContext.broadcast`; every corpus row then computes its
  * statistics in ONE named probe over the broadcast value (the
  * [[bloomClean]] `bloomMightContain` precedent). The returned plan is
  * scan → project: no Generate, Join or Exchange on the corpus side, and
  * no second corpus scan to restore unmatched documents. Building the
  * index runs bench-side jobs EAGERLY, when the call is made (as
  * [[bloomClean]] does) — the returned DataFrame does not carry the
  * benchmark plan.
  *
  * Statistics are per corpus ROW: `idCol` is carried through, never
  * grouped or joined on.
  */
object Decontaminate {

  /** Shingle-overlap report: one row per training doc with its shingle
    * count, the number of shingles also present anywhere in `bench`, and
    * a contamination flag (strictly more than `threshold` of the doc's
    * shingles overlap). Shingle-less docs (null text, fewer than `k`
    * tokens) are never contaminated.
    *
    * The benchmark's distinct shingle hashes are computed on the
    * cluster, collected as a sorted `Array[Long]` (8 B per distinct
    * shingle) and broadcast; the `shingleOverlapProbe` UDF computes each
    * doc's shingles once and binary-searches them. The flag is computed
    * inside the probe, so a filter on it pushed down to the scan still
    * runs the probe once per row.
    *
    * @return (idCol, n_shingles, n_overlap, contaminated)
    */
  def shingleOverlap(train: DataFrame, bench: DataFrame,
      idCol: String, textCol: String, k: Int = 3,
      threshold: Double = 0.5): DataFrame = {
    // explode_outer, not explode: InferFiltersFromGenerate only fires for
    // non-outer explodes, and on these it clones the FULL shingle scan
    // into a `size(...) > 0 AND isnotnull(...)` filter under the generate
    // — a second text scan per row. The null row an outer explode emits
    // for a shingle-less doc is dropped by the isNotNull filter.
    val benchSh = bench
      .select(explode_outer(shingleHashes(col(textCol), k)).as("h"))
      .filter(col("h").isNotNull)
      .distinct()
      .collect().map(_.getLong(0))
    java.util.Arrays.sort(benchSh)
    val benchB = train.sparkSession.sparkContext.broadcast(benchSh)
    val probe = udf((text: String) => {
      val sh = if (text == null) Array.emptyLongArray else NativeText.shingleHashes(text, k)
      val set = benchB.value
      var n = 0L
      var i = 0
      while (i < sh.length) {
        if (java.util.Arrays.binarySearch(set, sh(i)) >= 0) n += 1
        i += 1
      }
      val ns = sh.length.toLong
      (ns, n, n.toDouble > ns.toDouble * threshold)
    }).asNonNullable().withName("shingleOverlapProbe")
    train.select(col(idCol), probe(col(textCol)).as("__p"))
      .select(col(idCol), col("__p._1").as("n_shingles"),
        col("__p._2").as("n_overlap"), col("__p._3").as("contaminated"))
  }

  /** Strict decontamination via a Bloom-filter prefilter: return the ids
    * of training docs sharing NO k-shingle with the benchmark set. The
    * result is EXACT — identical to a plain anti-join — because a Bloom
    * filter has no false negatives (a doc with zero bloom hits is
    * definitively clean) and its false positives are eliminated by an
    * exact verification join over only the bloom-surviving shingles.
    *
    * Why this shape at 100 TB: [[shingleOverlap]] broadcasts the full
    * distinct benchmark shingle-hash set — fine at thousands of longs,
    * but a benchmark suite of 10⁸ shingles is a multi-GB broadcast hash
    * set. The bloom at 1% fpp needs ~10 bits per item (~120 MB for 10⁸),
    * an order of magnitude smaller, and it is what EVERY corpus shingle
    * probes — map-side, no corpus shuffle. The exact verify join of the
    * ~fpp fraction of corpus shingles that survive the bloom carries NO
    * broadcast hint: the build side is still O(benchmark shingles), so
    * forcing a broadcast there would re-create the very multi-GB
    * broadcast the bloom exists to avoid — at bench-suite sizes AQE
    * broadcasts it on its own, and past the broadcast threshold a
    * shuffle hash join over the near-empty survivor side is the right
    * plan. The bloom itself is built with a distributed aggregate
    * (partial filters merged), not a driver-side collect; the distinct
    * benchmark shingle set is persisted once and reused by the
    * cardinality count, the bloom build, and the verify join (it is
    * three full bench-text scans otherwise).
    *
    * @return single column (idCol) — the clean doc ids.
    */
  def bloomClean(train: DataFrame, bench: DataFrame,
      idCol: String, textCol: String, k: Int = 3,
      fpp: Double = 0.01): DataFrame = {
    val spark = train.sparkSession
    val benchSh = bench
      .select(explode_outer(shingleHashes(col(textCol), k)).as("h"))
      .filter(col("h").isNotNull)
      .distinct()
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val nBench = math.max(benchSh.count(), 1L)
    val bloom = benchSh.stat.bloomFilter("h", nBench, fpp)
    val bloomB = spark.sparkContext.broadcast(bloom)
    val mightContain = udf((h: java.lang.Long) =>
      h != null && bloomB.value.mightContain(h.longValue()))
      .withName("bloomMightContain")
    val trainSh = train
      .select(col(idCol), explode_outer(shingleHashes(col(textCol), k)).as("h"))
      .filter(col("h").isNotNull)
    // bloom prefilter (no false negatives) → exact verify of survivors.
    // No broadcast() hint here — see the scaladoc.
    val confirmed = trainSh
      .filter(mightContain(col("h")))
      .join(benchSh, Seq("h"))
      .select(col(idCol))
      .distinct()
    train.select(col(idCol))
      .join(confirmed, Seq(idCol), "left_anti")
  }

  /** FUZZY decontamination: flag training documents NEAR-duplicating a
    * benchmark document (MinHash-LSH candidates, verified by exact
    * shingle Jaccard ≥ `threshold`) — the guard [[shingleOverlap]]'s
    * exact n-gram matching cannot give: a benchmark item that was
    * lightly paraphrased, truncated, or reformatted before leaking into
    * the crawl still bands with its source (the GPT-3/PaLM-style
    * "fuzzy dedup against the eval set" step).
    *
    * The 100 TB shape exploits the corpus/benchmark asymmetry: the
    * benchmark's (id, band keys, shingle array) rows are computed on the
    * cluster, collected, and indexed as (band, key) → bench rows, each
    * shingle array stored once however many bands point at it. The
    * `lshOverlapProbe` UDF computes a document's shingles once, derives
    * its band keys from them, gathers the DISTINCT bench rows sharing
    * any band, and verifies each once with [[NativeText.jaccard]]. The
    * corpus is never exploded, shuffled or joined; the flag is computed
    * inside the probe (see [[shingleOverlap]]).
    *
    * The broadcast payload is the benchmark's shingle arrays once —
    * roughly rows × shingles × 8 B — plus `bands` keys per row. A
    * 1 GB-of-shingles suite still hits the driver/broadcast ceiling long
    * before the corpus side is the problem, so a cheap bench-only count
    * job runs FIRST and fails loudly over `maxBenchBroadcastBytes` (the
    * [[Dedup.ngramJaccardPairs]] pair-budget discipline). Its formula
    * still charges every shingle array once per band (× `bands`) and
    * 64 B per band row, so it is a conservative upper bound of the
    * index actually broadcast. Callers with an oversized suite should
    * shard `bench` and union the per-shard results, or reduce
    * `numHashes`. A second bench-side job builds the index; both run
    * when the call is made.
    *
    * @return (idCol, n_bench_matches, max_jaccard, contaminated) — one
    *         row per training doc; n_bench_matches counts distinct bench
    *         ids with a verified match, max_jaccard is the best verified
    *         Jaccard; unmatched docs carry (0, 0.0, false).
    */
  def fuzzyLshOverlap(train: DataFrame, bench: DataFrame,
      idCol: String, textCol: String, k: Int = 3,
      numHashes: Int = 32, bands: Int = 8,
      threshold: Double = 0.5,
      maxBenchBroadcastBytes: Long = 2L * 1024 * 1024 * 1024): DataFrame = {
    require(bands >= 1, "bands must be >= 1")
    require(numHashes % bands == 0, "bands must divide numHashes")
    if (maxBenchBroadcastBytes < Long.MaxValue) {
      // one column-pruned pass over the SMALL side only; 8 B per shingle
      // hash, duplicated once per band, + ~64 B per band row overhead
      val r = bench.agg(
        count(lit(1)).as("n"),
        coalesce(sum(size(shingleHashes(col(textCol), k))
          .cast("decimal(38,0)")), lit(0)).as("sh")).collect()(0)
      val est = r.getDecimal(1).toBigInteger
        .multiply(java.math.BigInteger.valueOf(8L * bands))
        .add(java.math.BigInteger.valueOf(r.getLong(0) * 64L * bands))
      if (est.compareTo(java.math.BigInteger.valueOf(maxBenchBroadcastBytes)) > 0)
        throw new IllegalArgumentException(
          s"fuzzyLshOverlap: bench side would broadcast ~$est bytes " +
            s"(${r.getLong(0)} rows × shingles × 8 B × $bands bands) > " +
            s"budget $maxBenchBroadcastBytes. Shard the benchmark suite " +
            "and union the per-shard results, or reduce numHashes.")
    }
    // shingle-less bench rows (null keys) can never band-match
    val rows = bench
      .select(col(idCol), minHashBandKeys(col(textCol), k, numHashes, bands),
        shingleHashes(col(textCol), k))
      .collect().filter(!_.isNullAt(1))
    val ordOf = rows.map(_.get(0)).distinct.zipWithIndex.toMap
    val index = new LshIndex(
      rows.map(_.getSeq[Long](2).toArray),
      rows.map(r => ordOf(r.get(0))),
      rows.indices
        .flatMap(i => rows(i).getSeq[Long](1).zipWithIndex.map { case (key, b) => (b, key) -> i })
        .groupMap(_._1)(_._2).map { case (bk, is) => bk -> is.toArray })
    val indexB = train.sparkSession.sparkContext.broadcast(index)
    val probe = udf((text: String) => {
      val sh = if (text == null) Array.emptyLongArray else NativeText.shingleHashes(text, k)
      val (n, maxJ) =
        if (sh.isEmpty) (0L, 0.0)
        else indexB.value.matches(NativeText.bandKeys(sh, numHashes, bands), sh, threshold)
      (n, maxJ, n > 0L)
    }).asNonNullable().withName("lshOverlapProbe")
    train.select(col(idCol), probe(col(textCol)).as("__p"))
      .select(col(idCol), col("__p._1").as("n_bench_matches"),
        col("__p._2").as("max_jaccard"), col("__p._3").as("contaminated"))
  }

  /** The broadcast benchmark side of [[fuzzyLshOverlap]]: per bench row
    * its shingle array and the ordinal of its id among the distinct
    * bench ids; `buckets` maps (band, key) to the rows carrying it. */
  private final class LshIndex(shingles: Array[Array[Long]], idOrd: Array[Int],
      buckets: Map[(Int, Long), Array[Int]]) extends Serializable {

    /** (distinct bench ids whose row shares a band with the doc and has
      * Jaccard ≥ threshold, the largest such Jaccard; 0.0 if none). */
    def matches(keys: Array[Long], sh: Array[Long], threshold: Double): (Long, Double) = {
      val candidates = scala.collection.mutable.HashSet.empty[Int]
      var b = 0
      while (b < keys.length) {
        buckets.get((b, keys(b))).foreach(candidates ++= _)
        b += 1
      }
      val ids = scala.collection.mutable.HashSet.empty[Int]
      var maxJ = 0.0
      candidates.foreach { i =>
        val j = NativeText.jaccard(sh, shingles(i))
        if (j >= threshold) {
          ids += idOrd(i)
          if (j > maxJ) maxJ = j
        }
      }
      (ids.size.toLong, maxJ)
    }
  }
}
