package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables
import graft.functions.{TextFunctions => T, VectorFunctions => V}
import graft.operators.{Bpe, Chunker, Decontaminate, Dedup, GopherRules, Importance, Multimodal, Prototypes, Relevance, Similarity, Splits}

/** The large-scale training-data pipeline operators: text analysis,
  * deduplication (exact / MinHash-LSH / SimHash / n-gram Jaccard /
  * embedding), and similarity search — each oracle-checked bit-for-bit
  * against DuckDB (all hashes are engine-neutral integer polynomials; all
  * float reductions are ordered folds; see graft.functions.*).
  *
  * The dedup corpora PLANT deterministic duplicates in-flight (union the
  * documents/embeddings tables with perturbed copies of themselves) so the
  * checks prove the operators actually find near-duplicates — the raw
  * synthetic tables contain none.
  */
object TrainingDataQueries extends QueryModule {

  /** documents ∪ 80%-token-prefix copies of every 10th doc (near-dups). */
  private def nearDupDocs(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d).select(col("doc_id"), col("text"))
    docs.union(prefixTruncated(docs, mod = 10, idOffset = 1000000L))
  }

  /** 4/5-token-prefix copies of every `mod`-th doc with an id offset —
    * the ONE truncation rule every planted near-dup / changed-page /
    * benchmark-item derivation shares. Every oracle CTE pins the same
    * arithmetic (`greatest(floor(n*4/5), 1)`); change them in lockstep
    * or the bit-exact compares break. A 1-token doc "truncates" to
    * itself (the greatest(...,1) floor), so derived corpora only plant
    * CHANGED pages for multi-token docs. */
  private def prefixTruncated(docs: DataFrame, mod: Int,
      idOffset: Long): DataFrame = {
    val ts = split(col("text"), " ")
    val nKeep = greatest(floor(size(ts) * 4 / 5), lit(1)).cast("int")
    docs.filter(col("doc_id") % mod === 0)
      .select((col("doc_id") + idOffset).as("doc_id"),
        array_join(slice(ts, lit(1), nKeep), " ").as("text"))
  }

  /** documents ∪ same-LENGTH single-byte-perturbed copies of every 16th
    * doc (first character uppercased, id +2,000,000) — the multimodal
    * near-dup corpus: when the text bytes stand in for media bytes
    * (the mm1-mm3 convention), a same-length byte substitution is the
    * "same image, re-encoded" analog (the average-pool cells shift by
    * 0-1 gray levels, so the planted pair's aHash hamming is small),
    * while a length change would misalign every pooling cell the way a
    * crop does. Oracle CTEs pin the identical derivation. */
  private def phashDocs(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d).select(col("doc_id"), col("text"))
    docs.union(docs.filter(col("doc_id") % 16 === 0)
      .select((col("doc_id") + 2000000L).as("doc_id"),
        concat(upper(substring(col("text"), 1, 1)),
          expr("substring(text, 2)")).as("text")))
  }

  /** pl9's media corpus: a doc_id%4 quarter of [[phashDocs]] (the plant
    * offset 2,000,000 is ≡ 0 mod 4 and plant bases are every 16th doc,
    * so every planted perceptual pair survives the quarter intact) as
    * opaque binary — sized so the oracle's per-frame brute-force n²
    * verify stays tractable at sf0.1 while the pipeline still carries
    * hundreds of planted pairs. */
  private def pl9Media(df: DataFrame): DataFrame =
    df.filter(col("doc_id") % 4 === 0)
      .select(col("doc_id"), encode(col("text"), "utf-8").as("media"))

  /** pl9's frame table: stub decode RETAINING the bytes → every-2nd-
    * frame sampling (media riding the generator projection — no
    * id-keyed re-join of the binary column, so no exchange ever
    * carries media; PlanAuditSpec pins it) → stub per-frame bytes
    * (suffix slice), one row per (doc, sampled frame). Shared by the
    * pl9 query and its bench canary so the canary measures the frames
    * the rollup actually bands. The coalesce marks the frame bytes
    * non-nullable (media is non-null by decode's contract, so the
    * empty-bytes arm never fires) — without it the banding engine's
    * isnotnull(frame) filter would evaluate the substring copy a second
    * time per row. */
  private[graft] def pl9Frames(mediaDf: DataFrame): DataFrame =
    Multimodal.sampleFrames(
      Multimodal.decodeMetaWithMedia(mediaDf, "doc_id", "media"),
      "doc_id", stride = 2, keepCols = Seq("media"))
      .select(col("doc_id"), col("frame_no"),
        coalesce(
          Multimodal.stubFrameBytes(col("media"), col("frame_no")),
          lit(Array.empty[Byte])).as("frame"))

  /** documents ∪ identical copies of every 10th doc (exact dups). */
  private def exactDupDocs(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d).select(col("doc_id"), col("text"))
    docs.union(docs.filter(col("doc_id") % 10 === 0)
      .select((col("doc_id") + 1000000).as("doc_id"), col("text")))
  }

  /** embeddings ∪ 0.5-scaled copies of every 20th vector (cosine-1 dups;
    * halving a float is exact, so direction is preserved bit-for-bit). */
  private def nearDupEmb(s: SparkSession, d: String): DataFrame = {
    val e = Tables.embeddings(s, d).select(col("vec_id"), col("embedding"))
    e.union(e.filter(col("vec_id") % 20 === 0)
      .select((col("vec_id") + 100000).as("vec_id"),
        V.scale(col("embedding"), 0.5f).as("embedding")))
  }

  /** documents re-segmented into "sentences" for the sentence-boundary
    * chunker: the corpus is single-line unpunctuated text, so sentence
    * boundaries derive from a CLOSED-FORM cycling token-length pattern
    * (lengths 5,9,7,3,11,4 — sentence i starts at token offset
    * `39·(i div 6) + pref(i mod 6)`). Pure integer arithmetic on the
    * real corpus tokens, so DuckDB replays the segmentation exactly and
    * the varying lengths genuinely exercise the packer's boundary
    * logic (a production caller would regex-split on terminal
    * punctuation instead). */
  private def sentencedDocs(s: SparkSession, d: String): DataFrame =
    sentenced(Tables.documents(s, d).select(col("doc_id"), col("text")))

  /** The segmentation itself, over any (doc_id, text) corpus. */
  private def sentenced(src: DataFrame): DataFrame = {
    val docs = src.filter(col("text").isNotNull)
      .select(col("doc_id"), col("text"))
    val lensArr = array(senLens.map(lit): _*)
    val prefArr = array(senPref.map(lit): _*)
    def off(i: Column) =
      (lit(39) * floor(i / 6)).cast("int") +
        element_at(prefArr, pmod(i, lit(6)) + 1)
    // the token array is BOUND once per row (r22, the dd13/tokenPassages
    // lesson): HOF lambdas get no CSE, so referencing `split(text)`
    // directly inside the per-index `sent(i)` lambda re-ran the split
    // PER SENTENCE INDEX — O(tokens · tokens/3) per document. Bound,
    // the segmentation is one split + O(sentences) slices.
    val sents = graft.functions.TextFunctions.bind(split(col("text"), " "), ts => {
      val n = size(ts)
      def sent(i: Column) =
        when(off(i) < n,
          array_join(slice(ts, off(i) + 1,
            element_at(lensArr, pmod(i, lit(6)) + 1)), " "))
      val idxs = when(n > 0, sequence(lit(0), floor(n / 3).cast("int")))
        .otherwise(array().cast("array<int>"))
      filter(transform(idxs, i => sent(i)), x => x.isNotNull)
    })
    docs.select(col("doc_id"), sents.as("sentences"))
  }
  private val senLens = Seq(5, 9, 7, 3, 11, 4)
  private val senPref = Seq(0, 5, 14, 21, 24, 35)

  /** documents with an in-document repeat planted in every 5th doc: its
    * first 20 tokens are PREPENDED, so the original's opening two
    * 10-token passages recur at tile-aligned offsets 20 and 30 — the
    * within-doc boilerplate shape [[Dedup.selfDedupPassages]] strips. */
  private def selfRepDocs(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d)
      .filter(col("text").isNotNull).select(col("doc_id"), col("text"))
    val ts = split(col("text"), " ")
    docs.withColumn("text",
      when(col("doc_id") % 5 === 0,
        array_join(concat(slice(ts, 1, 20), ts), " "))
        .otherwise(col("text")))
  }

  /** The "new crawl" snapshot for incremental dedup: exact re-crawls of
    * every 10th doc (must drop at the gate) plus 4/5-token-prefix
    * truncations of the same docs (changed pages — must pass). */
  private def newCrawlDocs(s: SparkSession, d: String): DataFrame =
    newCrawlOf(Tables.documents(s, d).select(col("doc_id"), col("text")))

  /** [[newCrawlDocs]] over an arbitrary (doc_id, text) frame — shared
    * with the STREAMING ingest-gate row, which derives the same batch
    * from the documents table read through `readStream`. */
  private def newCrawlOf(docs: DataFrame): DataFrame =
    docs.filter(col("doc_id") % 10 === 0)
      .select((col("doc_id") + 1000000).as("doc_id"), col("text"))
      .union(prefixTruncated(docs, mod = 10, idOffset = 2000000L))

  /** [[newCrawlDocs]] ∪ token-REVERSED pages of every 13th doc — the
    * dd14/pl7 ingest batch: exact re-crawls (Jaccard 1), changed pages
    * (4/5 prefix, Jaccard ≈ 0.8), and genuinely new content. Reversal
    * keeps every length/alpha/stopword statistic of a real document
    * (so the pl7 quality stage sees the corpus's ~47% Gopher keep
    * rate, not a degenerate all-fail batch of stubs) while replacing
    * essentially the whole 3-shingle set — novel content at full
    * document shape. */
  private def incrBatchDocs(s: SparkSession, d: String): DataFrame =
    incrBatchOf(Tables.documents(s, d).select(col("doc_id"), col("text")))

  /** [[incrBatchDocs]] over an arbitrary (doc_id, text) frame — the
    * derivation w14's streaming gate applies to the `readStream` read
    * of the same table (one rule, both execution paths). */
  private[graft] def incrBatchOf(docs: DataFrame): DataFrame =
    incrBatchKeeping(docs, Nil)

  /** [[incrBatchOf]] KEEPING per-doc metadata columns — pl10's
    * streaming curation derivation: the same three branches (exact
    * re-crawls of every 10th doc, 4/5-prefix changed pages, token-
    * reversed novel pages of every 13th), each derived row carrying
    * `extraCols` (source, arrival_ts) through unchanged. ONE definition
    * for both execution paths and both oracles. */
  private[graft] def incrBatchKeeping(docs: DataFrame,
      extraCols: Seq[String]): DataFrame = {
    val extras = extraCols.map(col)
    val ts = split(col("text"), " ")
    val nKeep = greatest(floor(size(ts) * 4 / 5), lit(1)).cast("int")
    val exact = docs.filter(col("doc_id") % 10 === 0)
      .select((col("doc_id") + 1000000L).as("doc_id") +: col("text") +: extras: _*)
    val changed = docs.filter(col("doc_id") % 10 === 0)
      .select((col("doc_id") + 2000000L).as("doc_id") +:
        array_join(slice(ts, lit(1), nKeep), " ").as("text") +: extras: _*)
    val novel = docs.filter(col("doc_id") % 13 === 0)
      .select((col("doc_id") + 4000000L).as("doc_id") +:
        array_join(reverse(split(col("text"), " ")), " ").as("text") +: extras: _*)
    exact.union(changed).union(novel)
  }

  /** `copies`-fold self-union of a (doc_id, text, …) corpus with id
    * offsets and a per-copy tag token appended to the text — copies are
    * near-identical but not identical, so signatures/shingles/lengths
    * shift the way a real 10× crawl's would (a verbatim union would
    * measure only the identical-content path). */
  private def scaleDocs(df: DataFrame, copies: Int): DataFrame =
    (0 until copies).map { c =>
      if (c == 0) df
      else df.withColumn("doc_id", col("doc_id") + c * 10000000L)
        .withColumn("text", concat(col("text"), lit(s" c$c")))
    }.reduce(_ union _)

  /** `copies`-fold self-union of an embedding corpus with id offsets and
    * a copy-dependent single-dimension bump (pure scaling would preserve
    * direction and stack every copy into the same cells). */
  private def scaleEmb(df: DataFrame, copies: Int): DataFrame =
    (0 until copies).map { c =>
      if (c == 0) df
      else df.select((col("vec_id") + c * 10000000L).as("vec_id"),
        transform(col("embedding"), (x, i) =>
          (x + when(i === c % 64, lit(0.37f * c)).otherwise(lit(0.0f)))
            .cast("float")).as("embedding"))
    }.reduce(_ union _)

  /** A realistic SPARSE-duplication corpus for the scale curve:
    * `tenth = false` is a 1/10 SUBSAMPLE of documents, `tenth = true`
    * the full table — so the 10× corpus grows with genuinely NEW
    * content, unlike [[scaleDocs]]' perturbed self-union where every
    * doc gains copies−1 true near-duplicates (the dup-SATURATED stress
    * corpus whose inherent pair floor is quadratic in copies). Both
    * sizes plant 4/5-prefix copies of 1/64 of their base docs (~1.6%
    * dup rate at BOTH scales — the plant modulus compensates for the
    * subsample so the rate stays equal), the dup rate of a
    * lightly-curated real crawl.
    *
    * Each base doc's tokens are additionally SALTED with its doc id
    * (plants inherit the base salt, so true near-dup pairs keep their
    * full shingle overlap). This is vocabulary expansion, not rigging:
    * the synthetic corpus draws from a 31-word vocabulary, so
    * UNRELATED docs share 99% of distinct 3-grams (probed at sf0.1 —
    * 27,006 of 27,213 distinct 3-grams occur in ≥ 2 docs, and even
    * 7-grams are 4.7% cross-doc) and an unsalted curve measures the
    * corpus's template-phrase sharing, not the scheme (probed
    * exponents 1.4–3.2 REGARDLESS of shingle size). A real crawl's
    * vocabulary puts unrelated-doc shingle collisions near zero —
    * which is exactly what the salt reproduces. On this corpus a
    * banding/prefix scheme that is linear under sparse duplication
    * must show a pair-growth exponent ≈ 1; the saturated entries' 2.6+
    * exponents are their corpus's inherent pairs, and this pair of
    * measurements is the receipt. */
  private def realisticDocs(s: SparkSession, d: String,
      tenth: Boolean): DataFrame = {
    val base = realisticBase(s, d, tenth)
    base.union(
      prefixTruncated(base, mod = realisticPlantMod(tenth),
        idOffset = 1000000L))
  }

  /** The salted base docs of [[realisticDocs]] (no plants): subsample at
    * 1×, full table at 10×, every token salted with `doc_id +
    * saltOffset`. A non-zero `saltOffset` yields docs with full document
    * shape but a vocabulary DISJOINT from every saltOffset-0 doc — the
    * "genuinely novel content" ingredient of [[realisticIncrBatch]]. */
  private def realisticBase(s: SparkSession, d: String, tenth: Boolean,
      saltOffset: Long = 0L, idOffset: Long = 0L): DataFrame = {
    val all = Tables.documents(s, d).select(col("doc_id"), col("text"))
    val base0 = if (tenth) all else all.filter(col("doc_id") % 10 === 0)
    base0.select((col("doc_id") + idOffset).as("doc_id"),
      array_join(transform(split(col("text"), " "),
        t => concat(t, lit("#"), col("doc_id") + saltOffset)), " ")
        .as("text"))
  }

  /** Plant modulus of [[realisticDocs]]: compensates for the 1× tenth
    * subsample so the planted-dup RATE (~1.6% of base) is equal at both
    * scales. */
  private def realisticPlantMod(tenth: Boolean): Int =
    if (tenth) 64 else 640

  /** The realistic sparse-dup corpus at a 100× decade: TEN re-salted
    * copies of the full table (copy c's tokens salt with a
    * copy-disjoint offset, so vocabularies never overlap across copies
    * and no cross-copy near-dup exists — growth stays honest), each
    * with its own ~1.6% planted prefix-truncation re-crawls (the same
    * plant modulus as 10×; the copy id offset is ≡ 0 mod 64, so the
    * plant RATE is exactly preserved). The third point of the
    * linearity claim's scale curve: 1× (tenth subsample) → 10× (full
    * table) → 100× (this). */
  private def realisticDocs100(s: SparkSession, d: String): DataFrame =
    (0 until 10).map { c =>
      val base = realisticBase(s, d, tenth = true,
        saltOffset = c * 10000000L, idOffset = c * 10000000L)
      base.union(prefixTruncated(base,
        mod = realisticPlantMod(tenth = true), idOffset = 1000000L))
    }.reduce(_ union _)

  /** [[realisticIncrBatch]] at the 100× decade — dd14's third curve
    * point: per copy c, the prior is that copy's salted base (see
    * [[realisticDocs100]]) and the batch is its ~1.6% planted
    * re-crawls (salt-inherited, so bands collide with the copy's OWN
    * prior only) plus re-salted novel docs (salt co+5e6 — disjoint
    * from every copy's base salt, which are multiples of 1e7, so
    * novel docs collide with nothing). Cross-copy band collisions
    * cannot occur (copy-disjoint vocabularies), so batch×prior
    * candidate growth stays proportional to true duplication. */
  private def realisticIncrBatch100(s: SparkSession, d: String): DataFrame =
    (0 until 10).map { c =>
      val co = c * 10000000L
      val base = realisticBase(s, d, tenth = true, saltOffset = co,
        idOffset = co)
      val novel = realisticBase(s, d, tenth = true,
        saltOffset = co + 5000000L, idOffset = co + 4000000L)
        .filter(col("doc_id") % 13 === 0)
      prefixTruncated(base, mod = realisticPlantMod(tenth = true),
        idOffset = 1000000L).union(novel)
    }.reduce(_ union _)

  /** [[realisticDocs100]]'s prior side alone (the salted bases of all
    * ten copies, no plants) — dd14-100×'s prior corpus. */
  private def realisticBase100(s: SparkSession, d: String): DataFrame =
    (0 until 10).map { c =>
      realisticBase(s, d, tenth = true, saltOffset = c * 10000000L,
        idOffset = c * 10000000L)
    }.reduce(_ union _)

  /** The embeddings table at a 100× decade for sim9's curve: ten
    * copies, copy c transformed by a SIGNED ROTATION — dimensions
    * cyclically shifted by 6c, then sign-flipped per dimension by bit
    * j of splitmix64(c) (copy 0 keeps the original vectors, so the
    * 100× corpus CONTAINS the 10× one). A hyperoctahedral rotation is
    * the vector-space analog of realisticDocs100's salt: intra-copy
    * structure is preserved EXACTLY (members transform identically;
    * reorder + ±1 multiply are lossless in IEEE754) while cross-copy
    * vectors land in independent hyperplane buckets. This corpus is
    * the probe that caught the plane-family defect: under the old
    * LINEAR Weyl planes the decade measured exponent 1.78 with the
    * hottest bucket up 61× — NO signed rotation or permutation fixed
    * it, because the collapse was signature-entropy saturation in the
    * hash itself (planes were windows of one sequence), not a corpus
    * artifact. With the quadratic-mix family the same corpus measures
    * ≈ 1.17 (see NativeVector.lshSignature). */
  private def embeddings100(s: SparkSession, d: String): DataFrame = {
    val e = Tables.embeddings(s, d).select(col("vec_id"), col("embedding"))
    def splitmix64(x0: Long): Long = {
      var z = x0 + 0x9E3779B97F4A7C15L
      z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
      z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
      z ^ (z >>> 31)
    }
    (0 until 10).map { c =>
      val shifted = e.select((col("vec_id") + c * 10000000L).as("vec_id"),
        col("embedding"))
      if (c == 0) shifted
      else {
        val bits = splitmix64(c.toLong)
        val rot = (6 * c) % 64
        val rotated = concat(
          slice(col("embedding"), rot + 1, 64 - rot),
          slice(col("embedding"), 1, rot))
        val signs = (0 until 64).map(j =>
          if (((bits >>> j) & 1L) == 1L) -1.0f else 1.0f)
        shifted.select(col("vec_id"),
          zip_with(rotated, typedLit(signs), (x, sg) => x * sg)
            .as("embedding"))
      }
    }.reduce(_ union _)
  }

  /** The 100× volumes of the realistic canaries — the bench's third
    * scale-curve point: a 2-point curve shows a decade is linear, the
    * 3-point curve shows the EXPONENT is stable decade over decade,
    * which is the actual 100 TB claim (blocking volume ∝ corpus when
    * duplication is sparse). All five realistic rows carry it: the
    * headline banding/prefix pair (dd2/dd11), the substring skew and
    * incremental-fuzzy controls (dd13/dd14), and the kNN-graph bucket
    * join (sim9 — whose 100× point exposed and then certified the
    * plane-family fix; it now holds the standard 1.3 bound). The
    * saturated-corpus canaries' shapes stay pinned by their own 1×/10×
    * rules. */
  def realisticBlockedVolumes100(s: SparkSession, d: String)
      : Map[String, graft.operators.Dedup.BlockVolume] = {
    // the 10-copy salted derivation is the section's most expensive
    // scan — do it ONCE for the three canaries that share the corpus
    // (each Volume is an action, so the Map literal would otherwise
    // re-derive it per entry); spill-to-disk cache, dropped before
    // returning (the section runs under its own Try in the bench)
    val docs100 = realisticDocs100(s, d)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try Map(
    "dd2_minhash_lsh_realistic" -> Dedup.minHashBandVolume(
      docs100, "doc_id", "text",
      shingleK = 3, numHashes = 32, bands = 8),
    "dd11_jaccard_prefix_realistic" -> Dedup.prefixJaccardVolume(
      docs100, "doc_id", "text",
      n = 3, threshold = 0.7),
    "dd13_substring_realistic" -> Dedup.substringAnchorVolume(
      docs100, "doc_id", "text", k = 10),
    "dd14_incremental_fuzzy_realistic" -> Dedup.incrementalBandVolume(
      realisticIncrBatch100(s, d), realisticBase100(s, d),
      "doc_id", "text", shingleK = 3, numHashes = 32, bands = 8),
    "sim9_knn_graph_realistic" -> {
      val e = Tables.embeddings(s, d).select(col("vec_id"), col("embedding"))
      // plane count through the SAME production knob as the 1×/10×
      // entries: base scale = the 1× subsample, target = 10× the table
      val subCount = e.filter(col("vec_id") % 10 === 0).count()
      val n100 = 10L * e.count()
      Similarity.knnGraphBucketVolume(embeddings100(s, d),
        "vec_id", "embedding",
        nPlanes = Similarity.suggestedPlanes(n100, basePlanes = 8,
          baseCorpus = subCount),
        dim = 64, multiProbe = true)
    })
    finally docs100.unpersist(blocking = false)
  }

  /** pl14/mm7's multi-frame "video" corpus: per document one
    * length-prefixed frame container ([[graft.operators.Multimodal
    * .decodeFrames]]'s format — 4-byte big-endian length + one REAL
    * PNG per frame, encoded through javax.imageio on the executors).
    * Frame f's pixel i = `(c1·(i+3) + c2·(i²+1) + 17·f) mod 256` with
    * c1/c2 the pl12 mixing residues (base mod 251 / mod 241) — the
    * same clique-proofing as [[imagePngPairDocs]], with the frame
    * index folded in as a per-frame shift (frames of ONE doc never
    * compare — the banding is frame-aligned — so the shift only has to
    * separate frames in the oracle's replay, not in hash space).
    * nFrames = base mod 4 + 2. With `planted`, every 16th doc gains a
    * copy (id + 2,000,000) whose FRAME 0 pixel 0 is one gray level
    * up: an aligned-frame near-dup whose remaining frames match at
    * hamming 0 — the "same clip, one re-encoded frame" analog. */
  private def videoPngDocs(s: SparkSession, d: String,
      planted: Boolean): DataFrame = {
    import org.apache.spark.sql.Encoders
    val base = Tables.documents(s, d)
      .select(col("doc_id"), col("doc_id").as("base"), lit(false).as("perturb"))
    val rows =
      if (!planted) base
      else base.union(Tables.documents(s, d)
        .filter(col("doc_id") % 16 === 0)
        .select((col("doc_id") + 2000000L).as("doc_id"),
          col("doc_id").as("base"), lit(true).as("perturb")))
    rows.as[(Long, Long, Boolean)](Encoders.tuple(Encoders.scalaLong,
        Encoders.scalaLong, Encoders.scalaBoolean))
      .mapPartitions { it =>
        it.map { case (id, b, perturb) =>
          val w = (b % 5 + 4).toInt
          val h = (b % 3 + 4).toInt
          val nf = (b % 4 + 2).toInt
          val c1 = b % 251
          val c2 = b % 241
          val bos = new java.io.ByteArrayOutputStream()
          var f = 0
          while (f < nf) {
            val ff = f
            val png = encodeGrayPng(w, h, (x, y) => {
              val i = y * w + x
              val bump = if (perturb && ff == 0 && i == 0) 1L else 0L
              ((c1 * (i + 3) + c2 * (i.toLong * i + 1) + 17L * ff + bump)
                % 256L).toInt
            })
            val len = png.length
            bos.write((len >>> 24) & 0xff); bos.write((len >>> 16) & 0xff)
            bos.write((len >>> 8) & 0xff); bos.write(len & 0xff)
            bos.write(png, 0, len)
            f += 1
          }
          (id, bos.toByteArray)
        }
      }(Encoders.tuple(Encoders.scalaLong, Encoders.BINARY))
      .toDF("doc_id", "media")
  }

  /** dd14's realistic ingest batch against the [[realisticBase]] prior:
    * the planted 4/5-prefix re-crawls (~1.6% of prior, INHERITING their
    * source's salt so their minhash bands truly collide with the prior
    * index — a real crawl's changed-page fraction) plus novel docs (the
    * every-13th base doc RE-salted with a disjoint salt: full document
    * shape, zero shingle overlap with any prior doc — the
    * [[incrBatchOf]] reversal trick, salt-form). */
  private def realisticIncrBatch(s: SparkSession, d: String,
      tenth: Boolean): DataFrame = {
    val base = realisticBase(s, d, tenth)
    val novel = realisticBase(s, d, tenth, saltOffset = 5000000L,
      idOffset = 4000000L).filter(col("doc_id") % 13 === 0)
    prefixTruncated(base, mod = realisticPlantMod(tenth),
      idOffset = 1000000L).union(novel)
  }

  /** The blocked-pairwise queries' pair volumes at a given scale factor —
    * surfaced by the bench artifact so quadratic creep in any blocked
    * operator shows up in the JSON round-over-round, not only when a
    * reviewer re-derives it. Single-sourced with the dd4 query's blocking
    * below. */
  def blockedQueryVolumes(s: SparkSession, d: String)
      : Map[String, graft.operators.Dedup.BlockVolume] =
    blockedQueryVolumesAt(s, d, copies = 1)

  /** [[blockedQueryVolumes]] over a `copies`× perturbed self-union of
    * each query's own corpus (copies = 1 IS the query corpus) — the
    * bench's empirical scale curve: measuring the same blocking at 1×
    * and 10× yields each query's pair-growth exponent, the number that
    * says whether the scheme survives a 100× corpus. */
  def blockedQueryVolumesAt(s: SparkSession, d: String, copies: Int)
      : Map[String, graft.operators.Dedup.BlockVolume] = Map(
    "dd4_ngram_jaccard" -> Dedup.blockVolume(
      scaleDocs(Tables.documents(s, d)
        .select(col("doc_id"), col("text"), col("lang"), col("source")), copies)
        .withColumn("len_band",
          floor(length(col("text")) / 64).cast("long")),
      Seq("lang", "source", "len_band")),
    // dd11's prefix-shingle buckets (pre-size-prune, pre-distinct) on
    // its own corpus. Like dd2, the scaled self-union gives every doc
    // ~copies-1 true near-dup partners, so the inherent-pairs floor is
    // quadratic in `copies`; the scheme-creep signal is the HOTTEST
    // bucket staying bounded (a df-ordered prefix keeps corpus-wide
    // shingles out of every prefix, so no bucket tracks corpus size).
    "dd11_jaccard_prefix" -> Dedup.prefixJaccardVolume(
      scaleDocs(nearDupDocs(s, d), copies), "doc_id", "text",
      n = 3, threshold = 0.7),
    // Banded queries: candidate-pair volume of the band-bucket self-join
    // (pre-distinct), same corpora and parameters as dd2/dd3/dd9.
    "dd2_minhash_lsh" -> Dedup.minHashBandVolume(
      scaleDocs(nearDupDocs(s, d), copies), "doc_id", "text",
      shingleK = 3, numHashes = 32, bands = 8),
    "dd3_simhash" -> Dedup.simHashBandVolume(
      scaleDocs(exactDupDocs(s, d), copies), "doc_id", "text", maxHamming = 3),
    // dd15's Manku tables over DISTINCT media signatures, its own corpus
    // scaled — same compaction-then-band shape as dd3, media modality.
    "dd15_phash_neardup" -> Dedup.perceptualBandVolume(
      scaleDocs(phashDocs(s, d), copies)
        .select(col("doc_id"), encode(col("text"), "utf-8").as("media")),
      "doc_id", "media", maxHamming = 3),
    // pl9's per-frame Manku buckets over the SAME frame table the
    // rollup bands (pl9Frames single-sources it): frame_no multiplies
    // the bucket space, distinct (frame_no, sig) rows band once each —
    // the media-pipeline analog of dd15's sublinear curve.
    "pl9_frame_phash" -> Dedup.frameBandVolume(
      pl9Frames(pl9Media(scaleDocs(phashDocs(s, d), copies))),
      "doc_id", "frame_no", "frame", maxHamming = 3),
    "dd9_semantic_dedup" -> {
      val emb = scaleEmb(nearDupEmb(s, d), copies)
      Dedup.semanticCellVolume(emb, "vec_id", "embedding",
        dd9Centroids(emb), splitCellsOver = dd9SplitOver,
        splitTarget = dd9SplitTarget)
    },
    // dd13's anchor buckets: per-(fingerprint, length) k-gram window
    // population. Skew canary, not a comparison count — no pairwise
    // join runs over these buckets (the keyed window computes min/max
    // doc per key in one pass); the hottest bucket is the corpus's
    // most-repeated k-gram, i.e. the largest single-key window
    // partition the sort must handle.
    "dd13_substring" -> Dedup.substringAnchorVolume(
      scaleDocs(nearDupDocs(s, d), copies), "doc_id", "text", k = 10),
    // dd14's batch×prior band join, both sides scaled: the self-union
    // saturates totalPairs (each batch copy's source has ~copies true
    // near-copies in the prior — candidate growth IS the planted-pair
    // contract, the dd2 adjudication); maxBlock bounded is the
    // scheme-health signal.
    "dd14_incremental_fuzzy" -> Dedup.incrementalBandVolume(
      scaleDocs(incrBatchDocs(s, d), copies),
      scaleDocs(Tables.documents(s, d).select(col("doc_id"), col("text")),
        copies),
      "doc_id", "text", shingleK = 3, numHashes = 32, bands = 8),
    // sim9's multiprobe bucket self-join: totalPairs includes the N
    // self-matches and saturates quadratically on the perturbed
    // self-union (copies of a vector share buckets by construction);
    // maxBlock — the hottest bucket's probe×member product — is the
    // health signal.
    "sim9_knn_graph" -> Similarity.knnGraphBucketVolume(
      scaleEmb(Tables.embeddings(s, d)
        .select(col("vec_id"), col("embedding")), copies),
      "vec_id", "embedding", nPlanes = 8, dim = 64, multiProbe = true),
    // dd2/dd11 over the REALISTIC ~1.6%-dup-rate corpus (see
    // realisticDocs): 1× is the subsample, 10× the full table — the
    // receipt that banding/prefix filtering are linear when duplication
    // is sparse, i.e. that the saturated-corpus entries' 2.6+ exponents
    // above are the test corpus's inherent pairs, not scheme creep.
    "dd2_minhash_lsh_realistic" -> Dedup.minHashBandVolume(
      realisticDocs(s, d, tenth = copies > 1), "doc_id", "text",
      shingleK = 3, numHashes = 32, bands = 8),
    "dd11_jaccard_prefix_realistic" -> Dedup.prefixJaccardVolume(
      realisticDocs(s, d, tenth = copies > 1), "doc_id", "text",
      n = 3, threshold = 0.7),
    // dd13 over the same realistic corpus — the control the saturated
    // dd13 row above lacks: with per-doc token salting, a k-gram is
    // cross-doc-shared only through TRUE duplication (the ~1.6% planted
    // prefix copies), so the anchor-bucket histogram must grow ~linearly
    // and the hottest (fp, ln) bucket must track the most-repeated
    // k-gram of a planted pair, not corpus size. The unsuffixed dd13's
    // 2.6+ exponent is then provably the 31-word corpus's inherent
    // template-phrase sharing, the same adjudication dd2/dd11 carry.
    "dd13_substring_realistic" -> dd13RealisticVolume(s, d, copies),
    // dd14 over the realistic corpus — the control the saturated dd14
    // row above lacks (the last dedup modality without one): prior =
    // the salted sparse-dup base, batch = the ~1.6% planted re-crawls
    // (salt-inherited, so their bands collide with their prior source)
    // plus re-salted novel docs (zero prior overlap). With both sides
    // growing 10x organically, band collisions grow only through true
    // duplication, so totalPairs must scale ~linearly and the hottest
    // (band, band_key) bucket stays a single planted pair's bands —
    // proving the unsuffixed dd14's 1.9+ exponent is the self-union's
    // planted-copy contract, not batch-side scheme creep.
    "dd14_incremental_fuzzy_realistic" -> dd14RealisticVolume(s, d, copies),
    // sim9 over ORGANIC corpus growth (1× = a 1/10 vec_id subsample,
    // 10× = the full table — genuinely new vectors, no replication)
    // with the production knob applied THROUGH THE API:
    // Similarity.suggestedPlanes grows the hyperplane count by ⌈log₂ g⌉
    // per growth factor g so bucket count tracks corpus size (here
    // 8 planes at 1× → 12 at 10×, 256 → 4096 buckets; base recall
    // tuned against the sim5-style audit). Measured exponent ≈ 1.01
    // at 1×→10× and 1.17 at 10×→100× (sf0.01); the small residual
    // above 1.0 is the multiprobe fanout (probes = nPlanes+1 grows
    // with the knob). HISTORY: this row used to measure ≈ 1.47 and
    // was rationalized as cluster structure — the 100× third point
    // falsified that (second decade 1.75+, hottest bucket 61×): the
    // real cause was the LINEAR Weyl plane family collapsing
    // signature entropy, fixed in NativeVector.lshSignature, after
    // which this bound tightened to the standard 1.3. The unsuffixed
    // sim9 row (fixed knob, perturbed self-union where copies share
    // buckets by construction) saturates by the planted-copy
    // contract, like dd2/dd11's unsuffixed rows.
    "sim9_knn_graph_realistic" -> {
      val e = Tables.embeddings(s, d).select(col("vec_id"), col("embedding"))
      val sub = e.filter(col("vec_id") % 10 === 0)
      val corpus = if (copies > 1) e else sub
      // base scale = the 1× subsample; both counts are 1-row aggregate
      // actions over a tiny id projection (model selection, like
      // dd9Centroids' corpus count)
      Similarity.knnGraphBucketVolume(corpus, "vec_id", "embedding",
        nPlanes = Similarity.suggestedPlanes(corpus.count(),
          basePlanes = 8, baseCorpus = sub.count()),
        dim = 64, multiProbe = true)
    })

  /** dd13's realistic-corpus anchor volume alone — single-sourced
    * between the [[blockedQueryVolumesAt]] canary map and the DedupSpec
    * exponent guard (which would otherwise have to compute every canary
    * twice just to read this one). */
  def dd13RealisticVolume(s: SparkSession, d: String,
      copies: Int): graft.operators.Dedup.BlockVolume =
    Dedup.substringAnchorVolume(
      realisticDocs(s, d, tenth = copies > 1), "doc_id", "text", k = 10)

  /** dd14's realistic-corpus batch×prior band volume — single-sourced
    * between the [[blockedQueryVolumesAt]] canary map and the DedupSpec
    * exponent guard, like [[dd13RealisticVolume]]. */
  def dd14RealisticVolume(s: SparkSession, d: String,
      copies: Int): graft.operators.Dedup.BlockVolume =
    Dedup.incrementalBandVolume(
      realisticIncrBatch(s, d, tenth = copies > 1),
      realisticBase(s, d, tenth = copies > 1),
      "doc_id", "text", shingleK = 3, numHashes = 32, bands = 8)

  /** dd9's cell-split constants — tight enough that the overgrown-cell
    * split ([[Dedup.splitOvergrownCells]]) actually fires on the sf0.01
    * correctness corpus (525 vectors, 8 cells, hottest 74 members —
    * probed), so the DuckDB oracle verifies the split arithmetic
    * end-to-end every round instead of replaying dead CTEs (the library
    * defaults 1000/500 would only trigger at bench scale and the
    * sub-k-means would never be cross-engine-checked). Single-sourced
    * between the query, the block-volume canary, and the oracle SQL. */
  private val dd9SplitOver = 60L
  private val dd9SplitTarget = 40L

  /** dd9's corpus-derived centroids — deterministic sampled k-means with
    * nCells growing linearly in corpus size (single-sourced between the
    * query, the block-volume canary, and the oracle SQL below). The
    * corpus count is a 1-row aggregate action; nCells must be a literal
    * for the init's bounded-heap TakeOrdered. */
  private def dd9Centroids(emb: DataFrame): DataFrame = {
    val n = emb.filter(col("embedding").isNotNull).count()
    Dedup.kmeansCentroids(emb, "vec_id", "embedding",
      Dedup.suggestedCells(n), sampleMod = 20, iters = 2)
  }

  // mx4's recipe constants — single-sourced with the oracle SQL (the
  // bm25K1/bm25B discipline: a budget change must hit both sides).
  private val mx4Weights = Map("en" -> 500000L, "zh" -> 200000L,
    "es" -> 150000L, "de" -> 100000L, "fr" -> 50000L)
  private val mx4Budget = 200000L
  private val mx4MaxEpochs = 3

  // tk1/tk2's merge-round count — single-sourced with the oracle CTE
  // chain (each round is one materialized CTE triple over there).
  private val bpeMerges = 12

  def defs: Map[String, (SparkSession, String) => DataFrame] = Map(

    // ---- Text analysis ----
    "x1_tokens" -> ((s, d) =>
      Tables.documents(s, d).select(
        col("doc_id"),
        T.tokenCount(col("text")).as("n_tokens"),
        T.bpeishTokenCount(col("text")).as("n_bpeish"),
        T.meanTokenLen(col("text")).as("mean_token_len"))),

    "x2_quality" -> ((s, d) =>
      Tables.documents(s, d).select(
        col("doc_id"),
        T.qualityScore(col("text")).as("quality"),
        T.alphaRatio(col("text")).as("alpha_ratio"),
        T.stopwordRatio(col("text")).as("stopword_ratio"))),

    "x3_langid" -> ((s, d) =>
      Tables.documents(s, d).select(
        col("doc_id"), col("lang"),
        T.langId(col("text")).as("lang_pred"))),

    "x4_fingerprint" -> ((s, d) =>
      Tables.documents(s, d).select(
        col("doc_id"),
        T.polyHash(col("text")).as("fp"),
        T.simHash(col("text")).as("simhash"))),

    // Gopher-style repetition signals: duplicate-token fraction +
    // top-bigram occurrence fraction (both narrow, one compiled pass).
    "x5_repetition" -> ((s, d) =>
      Tables.documents(s, d).select(
        col("doc_id"),
        T.dupTokenFrac(col("text")).as("dup_token_frac"),
        T.topBigramFrac(col("text")).as("top_bigram_frac"))),

    // Deterministic text normalization: lowercase → non-alphanumerics to
    // spaces → collapse runs → trim, plus the normalized fingerprint
    // (the canonical key for cross-corpus exact dedup).
    "x6_normalize" -> ((s, d) => {
      val norm = trim(regexp_replace(
        regexp_replace(lower(col("text")), "[^a-z0-9 ]", " "), " +", " "))
      Tables.documents(s, d).select(
        col("doc_id"), norm.as("norm_text"), T.polyHash(norm).as("norm_fp"))
    }),

    // PII redaction: plant a deterministic email into every 5th doc,
    // redact by pattern, report the redaction count — narrow regex work
    // that stays inside codegen (the synthetic corpus has no organic
    // PII, so the planting makes the check prove redaction, not a no-op).
    "x8_pii" -> ((s, d) => {
      val email = "[a-z0-9._-]+@[a-z0-9.-]+"
      val withPii = Tables.documents(s, d).select(col("doc_id"),
        when(col("doc_id") % 5 === 0,
          concat(col("text"), lit(" contact user"),
            col("doc_id").cast("string"), lit("@example.com now")))
          .otherwise(col("text")).as("text"))
      withPii.select(col("doc_id"),
        regexp_replace(col("text"), email, "<email>").as("redacted"),
        size(call_function("regexp_extract_all", col("text"),
          lit(email), lit(0))).cast("long").as("n_emails"))
    }),

    // Benchmark decontamination: docs with doc_id % 97 == 0 stand in for
    // the held-out benchmark; every other doc is scored for 3-shingle
    // overlap against the broadcast benchmark shingle set, one probe per
    // doc.
    "x7_decontaminate" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      Decontaminate.shingleOverlap(
        docs.filter(col("doc_id") % 97 =!= 0),
        docs.filter(col("doc_id") % 97 === 0),
        "doc_id", "text", k = 3, threshold = 0.5)
    }),

    // Content novelty over the planted-duplicate corpus: exact copies
    // score 0 (their shingles' first occurrence is the original),
    // fresh docs ~1 — the scalar "how much of this doc is new"
    // selection signal. Two 8-byte-keyed aggregates, no text/array
    // exchange.
    "x18_novelty" -> ((s, d) =>
      Dedup.shingleNovelty(exactDupDocs(s, d), "doc_id", "text", k = 3)),

    // FUZZY decontamination: the benchmark stand-ins are 80%-prefix
    // TRUNCATIONS of every 97th doc (near- but not exact copies — what
    // x7's exact shingle matching is blind to when paraphrase shifts
    // most shingles). Each doc probes the broadcast benchmark band index
    // and verifies its distinct candidates by exact Jaccard; the corpus
    // is never exploded, joined or shuffled.
    "x17_fuzzy_decontaminate" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      val bench = prefixTruncated(docs, mod = 97, idOffset = 2000000L)
      Decontaminate.fuzzyLshOverlap(docs, bench, "doc_id", "text",
        k = 3, numHashes = 32, bands = 8, threshold = 0.5)
    }),

    // Corpus-wide heavy hitters: exact top-50 tokens by occurrence count
    // with document frequency. The scale shape: explode is a pipelined
    // generator, the count aggregate combines map-side, and the top-k is
    // TakeOrderedAndProject (per-partition bounded heaps merged on the
    // driver — k rows, never a global sort). Ties broken by token text,
    // so the result is fully deterministic.
    "x9_heavy_hitters" -> ((s, d) =>
      Tables.documents(s, d)
        .select(col("doc_id"), explode(split(col("text"), " ")).as("token"))
        .groupBy(col("token"))
        .agg(count(lit(1)).as("n_occurrences"),
          count_distinct(col("doc_id")).as("n_docs"))
        .orderBy(col("n_occurrences").desc, col("token").asc)
        .limit(50)),

    // Unigram-LM quality scoring: corpus token frequencies → per-doc
    // average log-probability (the classic LM-based quality filter,
    // with the corpus itself as the LM). Scale shape: the vocabulary
    // is Zipf-small relative to the corpus, so the frequency table
    // broadcasts back over the token stream — the only corpus-wide
    // shuffles are the vocabulary count and the per-doc aggregate.
    "x11_unigram_logprob" -> ((s, d) => {
      val tok = Tables.documents(s, d)
        .select(col("doc_id"), explode(split(col("text"), " ")).as("token"))
      val freq = tok.groupBy(col("token")).agg(count(lit(1)).as("c"))
      val tot = freq.agg(sum(col("c")).as("t")) // 1-row scalar
      tok.join(broadcast(freq), Seq("token"))
        .crossJoin(broadcast(tot))
        .groupBy(col("doc_id"))
        .agg(
          avg(log(col("c").cast("double") / col("t").cast("double")))
            .as("avg_logprob"),
          count(lit(1)).as("n_tokens"))
    }),

    // Per-doc top-3 TF-IDF keywords. Vocabulary-sized df broadcast over
    // the (doc, term) partial aggregate; the per-doc top-k rank pushes
    // into WindowGroupLimit (plan-audited) so hot documents never
    // full-sort their term lists.
    "x12_tfidf_topterms" -> ((s, d) =>
      Relevance.tfidfTopTerms(Tables.documents(s, d), "doc_id", "text", k = 3)),

    // BM25 ranked retrieval for a fixed 3-term query over every matching
    // doc; scores + match counts, selection exact (no float-boundary
    // row picks — the caller ranks). k1/b are single-sourced with the
    // oracle SQL (bm25K1/bm25B below) so the two can't silently diverge.
    "x13_bm25" -> ((s, d) =>
      Relevance.bm25(Tables.documents(s, d), "doc_id", "text",
        Seq("spark", "join", "window"), k1 = bm25K1, b = bm25B)),

    // Strict decontamination through the Bloom prefilter + exact-verify
    // path (the 100 TB variant of x7: ~10-bits-per-shingle broadcast
    // instead of a full hash set, identical exact output). Same planted
    // benchmark split as x7; output = the clean doc ids.
    "x10_bloom_decontaminate" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      Decontaminate.bloomClean(
        docs.filter(col("doc_id") % 97 =!= 0),
        docs.filter(col("doc_id") % 97 === 0),
        "doc_id", "text", k = 3, fpp = 0.01)
    }),

    // ---- End-to-end pipeline composition ----
    // The full training-data preparation flow in ONE plan: normalize →
    // quality gate → exact dedup on the canonical fingerprint (keep the
    // smallest doc id) → benchmark decontamination → deterministic
    // split, reported as per-(lang, split) counts. Every stage is one of
    // this library's operators; Catalyst fuses the narrow stages into
    // shared scans, and the wide edges are the dedup groupBy, the doc-id
    // joins and one final count agg; decontamination itself is a per-row
    // broadcast probe with no edge of its own — the 100 TB shape.
    "pl1_pipeline" -> ((s, d) => {
      val norm = trim(regexp_replace(
        regexp_replace(lower(col("text")), "[^a-z0-9 ]", " "), " +", " "))
      val docs = Tables.documents(s, d)
        .select(col("doc_id"), col("lang"), norm.as("norm_text"))
        .filter(size(split(col("norm_text"), " ")) >= 5) // quality gate
      // Exact dedup keyed on (fingerprint64, length), NOT the raw text:
      // the dedup exchange carries 16 bytes/row instead of the document
      // — the shuffle that stays affordable at 100 TB. The key is the
      // full 64-bit xxhash64 (a ~2^30 poly hash collides at birthday
      // rate within ~46k same-length docs — silent false merges); with
      // 64 bits + length the collision odds are negligible, so the
      // oracle groups by the TEXT itself (the semantic truth) and the
      // hashed plan must reproduce it exactly.
      val keepers = docs
        .groupBy(T.fingerprint64(col("norm_text")).as("fp"),
          length(col("norm_text")).as("ln"))
        .agg(min(col("doc_id")).as("doc_id"))
        .select(col("doc_id")) // canonical keeper per content
      // deduped fans out to THREE consumers (decontamination train +
      // bench sides, final join); materialize it once instead of
      // recomputing scan→normalize→dedup per branch — the single-DAG
      // analog of the stage boundary a production pipeline would
      // checkpoint at between dedup and decontamination.
      val deduped = docs.join(keepers, Seq("doc_id")).localCheckpoint()
      val flags = Decontaminate.shingleOverlap(
        deduped.filter(col("doc_id") % 97 =!= 0),
        deduped.filter(col("doc_id") % 97 === 0),
        "doc_id", "norm_text", k = 3, threshold = 0.5)
      deduped.join(flags.filter(!col("contaminated")).select(col("doc_id")), Seq("doc_id"))
        .select(col("doc_id"), col("lang"),
          Splits.assign(col("norm_text"), trainPct = 80, valPct = 10).as("split"))
        .groupBy(col("lang"), col("split"))
        .agg(count(lit(1)).as("n_docs"))
    }),

    // Near-dup cluster keep/drop — the stage every production pipeline
    // ends with: pairwise near-dup detection (MinHash-LSH) → connected
    // components → a per-document keep/drop decision (keep each
    // cluster's minimum doc id; docs in no cluster keep themselves).
    // Plan shape at 100 TB: the pair list and the label propagation are
    // dd2/dd6's bounded band-bucket and doc-id shuffles; the decision
    // itself is ONE left join of the corpus against the label table —
    // which is proportional to the DUPLICATED subset, not the corpus —
    // followed by a narrow projection. clusters() is called at its
    // default maxIters = 50: that caps near-dup component DIAMETER, the
    // intended fail-loudly guard for LSH pair lists (a 50-hop dup chain
    // is pipeline pathology, not data).
    "pl2_cluster_keep" -> ((s, d) => {
      val corpus = nearDupDocs(s, d)
      val labels = Dedup.clusters(
        Dedup.minHashLsh(corpus, "doc_id", "text",
          shingleK = 3, numHashes = 32, bands = 8, threshold = 0.5)
          .select(col("doc_a"), col("doc_b")),
        "doc_a", "doc_b")
      corpus.join(labels, Seq("doc_id"), "left")
        .select(col("doc_id"),
          coalesce(col("cluster_id"), col("doc_id")).as("cluster_id"),
          (coalesce(col("cluster_id"), col("doc_id")) === col("doc_id"))
            .as("kept"))
    }),

    // Leakage-safe splitting: near-dup clusters (dd6 labels) co-assign
    // to one split via a hash of the canonical cluster id — a near-copy
    // of a training doc can never land in eval. Content-hash assign
    // (sp1) only co-assigns EXACT duplicates; this closes the near-dup
    // leakage hole.
    "sp3_cluster_split" -> ((s, d) => {
      val corpus = nearDupDocs(s, d)
      val labels = Dedup.clusters(
        Dedup.minHashLsh(corpus, "doc_id", "text",
          shingleK = 3, numHashes = 32, bands = 8, threshold = 0.5)
          .select(col("doc_a"), col("doc_b")),
        "doc_a", "doc_b")
      Splits.clusterAssign(corpus.select(col("doc_id")), "doc_id",
        labels, "cluster_id")
    }),

    // The round-13 curation pipeline: Gopher rule gate → temperature-
    // weighted language rebalance → fuzzy benchmark decontamination.
    // The gate is the expensive narrow stage (9 compiled n-gram passes
    // per row) and fans out to the mixture's count pass, its filter
    // side, and both decontamination consumers — localCheckpoint
    // materializes it once (the pl1 stage-boundary discipline).
    "pl3_curation" -> ((s, d) => {
      val gated = Tables.documents(s, d)
        .select(col("doc_id"), col("lang"), col("text"))
        .filter(GopherRules.keep(col("text")))
        .localCheckpoint()
      val sampled = Splits.temperatureMixture(gated, col("lang"),
        concat(col("text"), lit("#temp")), alpha = 0.5)
      val bench = prefixTruncated(Tables.documents(s, d), mod = 97,
        idOffset = 2000000L)
      val flags = Decontaminate.fuzzyLshOverlap(sampled, bench,
        "doc_id", "text", k = 3, numHashes = 32, bands = 8, threshold = 0.5)
      sampled.join(flags.filter(!col("contaminated")).select("doc_id"),
          Seq("doc_id"))
        .select(col("doc_id"), col("lang"), col("rate_ppm"))
    }),

    // The RAG-ingest pipeline: sentence-segment -> boundary-aligned
    // chunk (ck2) -> corpus-wide exact chunk dedup (keep the first
    // occurrence) -> content-hash shard assignment. The dedup shuffle
    // carries only 8-byte values — (fingerprint64, length) key, owner
    // ids, token count, shard — never the chunk text (the dd8
    // discipline); the oracle groups the raw text, so a hash match
    // proves the 16-byte-key plan reproduces it. The corpus is the
    // planted near-dup union: prefix copies share chunk-aligned
    // prefixes, so cross-document duplicate chunks genuinely occur and
    // collapse to the original doc as keeper.
    "pl4_rag_ingest" -> ((s, d) => {
      val chunks = Chunker.sentencePack(sentenced(nearDupDocs(s, d)),
        "doc_id", col("sentences"), budget = 24)
      chunks
        .groupBy(T.fingerprint64(col("chunk")).as("fp"),
          length(col("chunk")).as("ln"))
        .agg(min(struct(col("id"), col("chunk_id"))).as("o"),
          min(col("n_tokens")).as("n_tokens"),
          min(Splits.shard(col("chunk"), 8)).as("shard"))
        .select(col("o.id").as("doc_id"), col("o.chunk_id").as("chunk_id"),
          col("n_tokens"), col("shard"))
    }),

    // ---- Deterministic splitting / sampling ----
    "sp1_split" -> ((s, d) =>
      Tables.documents(s, d).select(
        col("doc_id"),
        Splits.assign(col("text"), trainPct = 80, valPct = 10).as("split"),
        Splits.shard(col("text"), 16).as("shard"))),

    "sp2_sample" -> ((s, d) =>
      Splits.stratifiedSample(
        Tables.documents(s, d).select(col("doc_id"), col("lang"), col("text")),
        strata = Seq("lang"), on = col("text"), tieBreak = col("doc_id"),
        perStratum = 25)
        .select(col("doc_id"), col("lang"), col("sample_rank"))),

    // Fixed 200-char windows with 50-char overlap (stride 150): the
    // pre-tokenization chunking step. Pure generator explode — no
    // shuffle; the whole query is one narrow pass over the corpus.
    "ck1_chunk_overlap" -> ((s, d) =>
      Chunker.fixedWindows(
        Tables.documents(s, d).select(col("doc_id"), col("text")),
        "doc_id", "text", size = 200, stride = 150)
        .select(col("id").as("doc_id"), col("chunk_id"),
          col("chunk"), col("n_chars"))),

    // Sentence-boundary token-budget packing (the RAG-style chunker):
    // chunk boundaries fall between sentences at fixed token offsets
    // (floor(tokens-before / 24) — the stateless pk1 rule, never a
    // greedy sequential fold). The corpus has no punctuation, so the
    // sentence segmentation derives from a closed-form cycling length
    // pattern both engines replay exactly; the oracle states the packing
    // as the naive explode + group-by, which the array-local zero-shuffle
    // plan must reproduce bit-for-bit.
    "ck2_sentence_pack" -> ((s, d) =>
      Chunker.sentencePack(sentencedDocs(s, d), "doc_id",
        col("sentences"), budget = 24)
        .select(col("id").as("doc_id"), col("chunk_id"), col("chunk"),
          col("n_tokens"), col("n_sentences"))),

    // Token-budget shard packing: shard = floor(cumulative tokens before
    // this doc / 2048). Semantics are a GLOBAL running sum; the plan is
    // the two-phase distributed prefix sum in Splits.tokenBudgetShards —
    // the only unpartitioned window runs over the tiny bucket-totals
    // table, never over document rows. The oracle states the naive
    // global-window form and this plan must reproduce it exactly.
    "pk1_token_shards" -> ((s, d) =>
      Splits.tokenBudgetShards(
        Tables.documents(s, d),
        "doc_id", T.tokenCount(col("text")), capacity = 2048L, chunkDocs = 64L)),

    // Fixed-length sequence cutting — the pretraining packing map:
    // documents concatenate in id order, the stream cuts every 512
    // tokens, each (doc, sequence) overlap row carries the doc-local
    // token range. Same two-phase prefix sum as pk1 (the only
    // unpartitioned window is over bucket totals) + a narrow generator.
    "pk3_sequence_cuts" -> ((s, d) =>
      Splits.sequenceCuts(
        Tables.documents(s, d),
        "doc_id", T.tokenCount(col("text")), seqLen = 512L, chunkDocs = 64L)),

    // Deterministic global corpus shuffle into training shards: shard =
    // salted content hash mod 16 ('#shuffle' channel, independent of
    // sp1/mx1's), pos_in_shard = rank under (hash, id) within the shard.
    // One shard-keyed exchange; the only sorts are per-shard, in
    // parallel — exactly the order each shard file is written in.
    "pk2_shuffle_shards" -> ((s, d) =>
      Splits.shuffleShards(Tables.documents(s, d), "doc_id",
        on = col("text"), nShards = 16)),

    // Domain-mixture resampling: per-lang keep rates decided by a salted
    // content hash (channel independent of sp1's split hash) — the
    // deterministic "re-balance the training mixture" filter. Narrow,
    // shuffle-free.
    "mx1_mixture_sample" -> ((s, d) =>
      Splits.mixtureSample(
        Tables.documents(s, d),
        domain = col("lang"), on = concat(col("text"), lit("#mix")),
        ratesPct = Map("en" -> 90, "zh" -> 30, "de" -> 60), defaultPct = 50)
        .select(col("doc_id"), col("lang"))),

    // DSIR importance weighting: target model = the curated 'src0'
    // slice, raw model = the whole corpus, both hashed-unigram tables
    // of 256 rows that broadcast back over the token stream; per-doc
    // weight = integer micro-nat sum (quantized at the model, so the
    // corpus-wide reduction is exact integer math — cross-engine ln
    // jitter cannot accumulate). The oracle replays models + sum.
    "mx2_dsir_weights" -> ((s, d) =>
      Importance.dsirLogWeights(Tables.documents(s, d), "doc_id", "text",
        isTarget = col("source") === "src0", buckets = 256)),

    // Temperature-weighted (UniMax-style) domain resampling: kept
    // counts ∝ n_d^0.5, smallest domain kept whole, decided by a salted
    // content hash against a per-domain ppm rate derived from one
    // column-pruned count pass. The corpus never shuffles. Domain =
    // language (the sources are uniform by construction — a gate that
    // never fires would leave the filter arithmetic oracle-unchecked).
    "mx3_temperature_mixture" -> ((s, d) =>
      Splits.temperatureMixture(Tables.documents(s, d),
        domain = col("lang"), on = concat(col("text"), lit("#temp")),
        alpha = 0.5)
        .select(col("doc_id"), col("lang"), col("rate_ppm"))),

    // Data-recipe reconciliation: weights × budget vs corpus size ×
    // epoch cap. At this budget en/zh/es/de hit the 3-epoch cap
    // (deficit > 0) while fr's target fits — both branches live.
    "mx4_token_budget" -> ((s, d) =>
      Splits.tokenBudgetAllocation(Tables.documents(s, d),
        domain = col("lang"), tokens = size(split(col("text"), " ")),
        weightsPpm = mx4Weights, totalBudget = mx4Budget,
        maxEpochs = mx4MaxEpochs)),

    // CCNet-style per-language quality terciles (head/middle/tail by
    // exact per-stratum rank). Semantics = a global per-language window;
    // the plan is the two-phase banded rank in Splits.quantileBuckets —
    // a language never sorts on one reducer. The oracle states the
    // naive global-window form and this plan must reproduce it exactly.
    "x14_quantile_filter" -> ((s, d) =>
      Splits.quantileBuckets(
        Tables.documents(s, d).select(col("doc_id"), col("lang"),
          T.qualityScore(col("text")).as("quality")),
        strata = Seq("lang"), score = col("quality"), tieBreak = col("doc_id"))
        .select(col("doc_id"), col("lang"), col("quality"),
          col("stratum_rank"), col("bucket"))),

    // The full Gopher rule battery (Rae et al. 2021 Table A1): word
    // count / word shape / stopword-presence quality rules plus the
    // char-mass n-gram repetition rules (top 2..4-gram, duplicated
    // 5..10-gram). One narrow projection, every statistic a single
    // compiled pass per row.
    "x15_gopher_rules" -> ((s, d) =>
      GopherRules.report(Tables.documents(s, d), "doc_id", "text")),

    // CCNet-style LM quality score: hashed-bigram model with unigram
    // backoff trained on the curated 'src0' slice, scoring every doc's
    // mean token log-likelihood in integer micro-nats (log-space
    // interpolation quantizes both factors at the model, so the
    // corpus-wide reduction is exact integer math — cross-engine ln
    // jitter cannot accumulate). One grouping-sets model pass, two
    // dense broadcast models, one id-keyed shuffle.
    "x16_bigram_logprob" -> ((s, d) =>
      Importance.hashedBigramLogProb(Tables.documents(s, d), "doc_id", "text",
        isModel = col("source") === "src0",
        uniBuckets = 256, biBuckets = 4096, lambdaPct = 70)),

    // ---- Deduplication ----
    // Keyed on (fingerprint64, length), not the raw text: the dedup
    // shuffle carries 16 bytes/row — the formulation that holds at
    // 100 TB. The 64-bit key makes collisions negligible, so the oracle
    // groups by the text itself and the hashed plan must match it.
    "dd1_exact_dedup" -> ((s, d) =>
      Dedup.exact(exactDupDocs(s, d),
        struct(T.fingerprint64(col("text")), length(col("text"))), col("doc_id"))
        .select(col("keeper_id"), col("n_copies"))),

    "dd2_minhash_lsh" -> ((s, d) =>
      Dedup.minHashLsh(nearDupDocs(s, d), "doc_id", "text",
        shingleK = 3, numHashes = 32, bands = 8, threshold = 0.5)),

    // Sub-document dedup: consecutive 10-token passages, duplicated
    // content reported with its keeper doc. Same 16-byte-key shuffle
    // discipline as dd1, with the passage explode as a generator.
    "dd8_passage_dedup" -> ((s, d) =>
      Dedup.passageExactDedup(exactDupDocs(s, d), "doc_id", "text",
        passageTokens = 10)),

    // Overlapping-window variant (stride 5 < passage 10): catches
    // repeated spans whose offsets agree mod 5 (tiling needs mod 10;
    // stride 1 = full shingling = every alignment) — the dial between
    // explode cost and alignment coverage.
    "dd10_passage_overlap" -> ((s, d) =>
      Dedup.passageExactDedup(exactDupDocs(s, d), "doc_id", "text",
        passageTokens = 10, stride = 5)),

    "dd3_simhash" -> ((s, d) =>
      Dedup.simHashDup(exactDupDocs(s, d), "doc_id", "text", maxHamming = 3)),

    // Perceptual near-dup for the MULTIMODAL column (the pHash/banding
    // pass a frontier multimodal pipeline runs after text dedup): media
    // bytes → 61-bit average-hash → Manku banding → hamming ≤ 3 pairs.
    // The planted same-length byte perturbations land at hamming 0-5
    // (probed: most ≤ 1), unrelated docs ≥ ~11, so the threshold
    // separates cleanly; the oracle replays the hash byte-for-byte over
    // hex(blob) and verifies via the UNFILTERED n² form — a hash match
    // proves the banded result IS the brute force (the dd11 discipline).
    "dd15_phash_neardup" -> ((s, d) =>
      Dedup.perceptualHashDup(
        phashDocs(s, d).select(col("doc_id"),
          encode(col("text"), "utf-8").as("media")),
        "doc_id", "media", maxHamming = 3)),

    // Near-dup pairs → connected components → canonical keeper per
    // cluster (min doc id) — the keep/drop decision step.
    "dd6_dedup_clusters" -> ((s, d) =>
      Dedup.clusters(
        Dedup.minHashLsh(nearDupDocs(s, d), "doc_id", "text",
          shingleK = 3, numHashes = 32, bands = 8, threshold = 0.5),
        "doc_a", "doc_b")),

    // Blocking includes a 64-char length band: (lang, source) alone has
    // CONSTANT cardinality (~100), so in-block pairs grow as (N/100)² —
    // the band multiplies the block count by the length spread and keeps
    // the hottest block ~8× smaller at sf0.1. The pair-budget guard in
    // ngramJaccardPairs fails loudly if a future corpus outgrows even
    // the banded scheme.
    "dd4_ngram_jaccard" -> ((s, d) =>
      Dedup.ngramJaccardPairs(
        Tables.documents(s, d).withColumn("len_band",
          floor(length(col("text")) / 64).cast("long")),
        "doc_id", "text",
        blockCols = Seq("lang", "source", "len_band"), n = 3,
        threshold = 0.01)),

    // The UNBLOCKED exact-Jaccard path: prefix filtering (rarest
    // (1-t)·|shingles|+1 shingles per doc in global df order) generates
    // the candidates, one exact verify per pair. Lossless by the prefix
    // theorem, so the oracle is the brute-force n² join — the check
    // proves the filter drops nothing, not merely that DuckDB replays it.
    "dd11_jaccard_prefix" -> ((s, d) =>
      Dedup.prefixJaccardPairs(nearDupDocs(s, d), "doc_id", "text",
        n = 3, threshold = 0.7)),

    // Incremental crawl ingest: only genuinely-new content passes the
    // gate — exact re-crawls of prior docs drop, changed pages pass.
    // The anti-join shuffles the 16-byte content key, never the prior
    // text; the oracle anti-joins the raw text.
    "dd12_incremental" -> ((s, d) =>
      Dedup.incrementalNew(newCrawlDocs(s, d),
          Tables.documents(s, d).select(col("text")), "text")
        .select(col("doc_id"), length(col("text")).cast("long").as("n_chars"))),

    // Fuzzy incremental ingest — dd12's near-dup complement (dd12 lets
    // a one-word-changed page through; this gate stops it): exact
    // re-crawls verify at Jaccard 1, changed pages (4/5 prefix) at
    // ≈ 0.8, genuinely new pages keep. Banding is replayed bit-exactly
    // by the oracle, so the candidate set (including any truncation
    // LSH happens to miss — the banding recall contract) agrees
    // cross-engine by construction.
    "dd14_incremental_fuzzy" -> ((s, d) =>
      Dedup.incrementalMinHash(incrBatchDocs(s, d),
        Tables.documents(s, d), "doc_id", "text",
        shingleK = 3, numHashes = 32, bands = 8, threshold = 0.5)),

    // dd14 through the ACTUAL streaming execution path: the ingest
    // batch derived (same incrBatchOf rule) from the documents table
    // read via readStream, gated against the static prior through two
    // stream-static joins + one streaming argmax aggregation
    // (StreamingRun.ingestGate has the plan story). Identical oracle
    // to dd14 — the streaming and batch gates must agree verdict for
    // verdict, bit for bit.
    "w14_streaming_ingest_gate" -> ((s, d) => {
      val batch = incrBatchOf(
        graft.streaming.StreamingRun.tableStream(s, d, "documents")
          .select(col("doc_id"), col("text")))
      graft.streaming.StreamingRun.ingestGate(s, batch,
        Tables.documents(s, d).select(col("doc_id"), col("text")),
        "doc_id", "text", shingleK = 3, numHashes = 32, bands = 8,
        threshold = 0.5)
    }),

    // Exact cross-document substring dedup (Lee et al. 2022
    // ExactSubstr): every maximal ≥10-token span shared verbatim with
    // another doc, per doc, as 1-based token positions. On the planted
    // near-dup corpus each 80%-prefix copy's ENTIRE text and the
    // matching prefix of its original must surface as one maximal span
    // each. The oracle replays the window-coverage definition over RAW
    // window text; the hash match proves the 16-byte-key plan drops
    // nothing.
    "dd13_substring" -> ((s, d) =>
      Dedup.exactSubstringSpans(nearDupDocs(s, d), "doc_id", "text",
        k = 10)),

    // Within-document passage self-dedup (boilerplate stripping): the
    // planted prepended-prefix docs lose exactly their two repeated
    // opening passages; untouched docs pass through byte-identical.
    "x20_self_dedup" -> ((s, d) =>
      Dedup.selfDedupPassages(selfRepDocs(s, d), "doc_id", "text",
        passageTokens = 10)),

    "dd5_embedding_neardup" -> ((s, d) =>
      Dedup.embeddingNearDup(nearDupEmb(s, d), "vec_id", "embedding",
        nPlanes = 8, dim = 64, threshold = 0.95)),

    // dd5 with 1-bit-flip multi-probe: recovers the near-dup pairs whose
    // signatures differ in exactly one plane (≈ doubles per-pair recall
    // at 8 planes) — the production knob for LSH's recall/cost trade.
    "dd7_embedding_multiprobe" -> ((s, d) =>
      Dedup.embeddingNearDupMultiProbe(nearDupEmb(s, d), "vec_id", "embedding",
        nPlanes = 8, dim = 64, threshold = 0.95)),

    // SemDeDup: corpus-derived coarse cells (deterministic sampled
    // k-means, hash-seeded init, fixed iterations — bit-replayed by the
    // DuckDB oracle), then in-cell pairwise cosine ≥ 0.95 → one row per
    // dropped vector with its keeper. nCells grows linearly with the
    // corpus (Dedup.suggestedCells) bounding the MEAN cell; cells that
    // still outgrow dd9SplitOver members are re-clustered by one level
    // of in-cell k-means (Dedup.splitOvergrownCells — also replayed by
    // the oracle) bounding the MAX, so the in-cell pair volume survives
    // skew, not just growth.
    "dd9_semantic_dedup" -> ((s, d) => {
      val emb = nearDupEmb(s, d)
      Dedup.semanticDedup(emb, "vec_id", "embedding", dd9Centroids(emb),
        threshold = 0.95, splitCellsOver = dd9SplitOver,
        splitTarget = dd9SplitTarget)
        .select(col("id").as("vec_id"), col("keeper_id"),
          col("n_better"), col("max_cosine"))
    }),

    // ---- Similarity search ----
    "sim1_topk_bruteforce" -> ((s, d) => {
      val e = Tables.embeddings(s, d)
      Similarity.bruteForceTopK(e.filter(col("vec_id") < 20), e,
        "vec_id", "embedding", k = 5)
    }),

    "sim2_topk_lsh" -> ((s, d) => {
      val e = Tables.embeddings(s, d)
      Similarity.lshTopK(e.filter(col("vec_id") < 20), e,
        "vec_id", "embedding", k = 5, nPlanes = 8, dim = 64)
    }),

    "sim3_topk_ivf" -> ((s, d) => {
      val e = Tables.embeddings(s, d)
      Similarity.ivfTopK(e.filter(col("vec_id") < 20), e,
        "vec_id", "embedding", k = 5, nCells = 8, nProbe = 2)
    }),

    "sim4_topk_lsh_multiprobe" -> ((s, d) => {
      val e = Tables.embeddings(s, d)
      Similarity.lshTopK(e.filter(col("vec_id") < 20), e,
        "vec_id", "embedding", k = 5, nPlanes = 8, dim = 64, multiProbe = true)
    }),

    // recall@5 of the IVF path against the exact brute-force top-5 —
    // the ANN quality audit a production index build reports next to
    // its latency (nProbe is THE recall/cost dial; this is how you pick
    // it). Left join exact→approx on the query-set-sized result tables
    // (both ≤ |Q|·k rows — nothing corpus-sized moves).
    "sim5_ivf_recall" -> ((s, d) => {
      val e = Tables.embeddings(s, d)
      val q = e.filter(col("vec_id") < 20)
      val exact = Similarity.bruteForceTopK(q, e, "vec_id", "embedding", k = 5)
        .select(col("query_id"), col("neighbor_id"))
      val approx = Similarity.ivfTopK(q, e, "vec_id", "embedding",
          k = 5, nCells = 8, nProbe = 2)
        .select(col("query_id"), col("neighbor_id"), lit(1L).as("hit"))
      exact.join(approx, Seq("query_id", "neighbor_id"), "left")
        .groupBy(col("query_id"))
        .agg(sum(coalesce(col("hit"), lit(0L))).as("n_hits"))
        .withColumn("recall", col("n_hits").cast("double") / 5)
    }),

    // Hard-negative mining: per query, top-5 most similar vectors with
    // a DIFFERENT label (the contrastive-training negative sampler).
    "sim6_hard_negatives" -> ((s, d) => {
      val e = Tables.embeddings(s, d)
      Similarity.hardNegatives(e.filter(col("vec_id") < 20), e,
        "vec_id", "embedding", "label", k = 5)
    }),

    // SQ8 scalar-quantized ANN: the memory-bound scale path — the scan
    // ranks candidates by the INTEGER dot product of int8 codes (1 byte
    // per dim instead of 4, exact cross-engine math), full-precision
    // cosine re-ranks only the top-`rerank` survivors per query. The
    // oracle replays quantization, integer scan, and re-rank verbatim.
    "sim7_topk_sq8" -> ((s, d) => {
      val e = Tables.embeddings(s, d)
      Similarity.sq8TopK(e.filter(col("vec_id") < 20), e,
        "vec_id", "embedding", k = 5, rerank = 16)
    }),

    // IVF × SQ8 — the production ANN combination: coarse cells bound
    // the candidate set, the within-cell scan reads int8 codes, exact
    // cosine re-ranks the survivors. The oracle composes sim3's
    // cell/probe replay with sim7's quantized-scan replay.
    "sim8_topk_ivf_sq8" -> ((s, d) => {
      val e = Tables.embeddings(s, d)
      Similarity.ivfSq8TopK(e.filter(col("vec_id") < 20), e,
        "vec_id", "embedding", k = 5, nCells = 8, nProbe = 2, rerank = 16)
    }),

    // Corpus-wide approximate k-NN graph (every vector both query and
    // candidate — no broadcastable query side): multiprobe LSH bucket
    // self-join, per-partition bounded-heap top-5 per src, directed
    // edges with the mutual-kNN mark. The edge list is the input to
    // graph-based curation (cluster pruning, diversity sampling).
    "sim9_knn_graph" -> ((s, d) =>
      Similarity.knnGraph(Tables.embeddings(s, d), "vec_id", "embedding",
        k = 5, nPlanes = 8, dim = 64, multiProbe = true)),

    // Hybrid retrieval: BM25 ranked lists and dense-cosine ranked lists
    // fused per query by reciprocal rank (the production RAG shape —
    // no score calibration between retrievers). The bench pairing of a
    // term set with a query vector is synthetic (the corpus has no real
    // queries); the semantics under test are the fusion: rank-depth
    // fetchK per retriever, RRF k=60 fold, fused top-10. Both ranked
    // lists are |Q|·fetchK-sized, so everything after the retrievers is
    // query-side work (rrfFuse scaladoc has the 100 TB argument).
    "sim10_hybrid_rrf" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      val emb = Tables.embeddings(s, d).select(col("vec_id"), col("embedding"))
      // r21: ONE corpus pass for all three sparse arms (bm25PerQuery)
      // instead of one bm25 scan per query — bit-identical scores,
      // |Q|× fewer tokenize exchanges (guide §2.4)
      val sparseScored = Relevance.bm25PerQuery(docs, "doc_id", "text",
          hybridQueries.map { case (qid, terms, _) => qid -> terms },
          k1 = bm25K1, b = bm25B)
        .select(col("query_id"), col("doc_id"), col("bm25"))
      val ws = org.apache.spark.sql.expressions.Window
        .partitionBy(col("query_id"))
        .orderBy(col("bm25").desc, col("doc_id"))
      val sparseRanked = sparseScored
        .withColumn("rank", row_number().over(ws).cast("long"))
        .filter(col("rank") <= hybridFetchK)
        .select(col("query_id"), col("doc_id"), col("rank"))
      val qvecMap = hybridQueries.map { case (qid, _, vid) => vid -> qid }
      val denseRanked = Similarity.bruteForceTopK(
        emb.filter(col("vec_id").isin(qvecMap.map(_._1): _*)), emb,
        "vec_id", "embedding", k = hybridFetchK)
        .select(qvecMap.tail.foldLeft(
            when(col("query_id") === qvecMap.head._1, qvecMap.head._2)) {
            case (c, (vid, qid)) => c.when(col("query_id") === vid, qid)
          }.as("query_id"),
          col("neighbor_id").as("doc_id"), col("rank"))
      Relevance.rrfFuse(Seq(sparseRanked, denseRanked), k = 10,
        kRrf = hybridKRrf)
    }),

    // Prototypicality pruning (SSL-prototypes): cosine of each vector to
    // its label's integer-quantized mean centroid; the most prototypical
    // (redundant) examples flag for pruning. The quantized centroid makes
    // the group mean commutative-integer math — no ordered fold, no
    // member collection — so the corpus never shuffles (only the
    // (label,pos) sum partials do) and DuckDB replays the mean exactly.
    "x19_prototypicality" -> ((s, d) =>
      Prototypes.prototypicality(Tables.embeddings(s, d),
        "vec_id", "embedding", "label", pruneAbove = 0.25)),

    // ---- Multimodal plumbing: opaque binary + derived metadata ----
    "mm1_media_meta" -> ((s, d) =>
      Tables.documents(s, d)
        .select(col("doc_id"), col("source"),
          encode(col("text"), "utf-8").as("media"))
        .select(col("doc_id"), col("source"),
          expr("octet_length(media)").cast("long").as("n_bytes"),
          (expr("octet_length(media)").cast("long") % 64).as("fake_width"),
          (expr("octet_length(media)").cast("long") / 64).cast("long").as("fake_height"))),

    // Batched partition-local decode through the pluggable MediaDecoder
    // (stub codec — deterministic header math, real batch plumbing).
    "mm2_decode_meta" -> ((s, d) =>
      Multimodal.decodeMeta(
        Tables.documents(s, d)
          .select(col("doc_id"), encode(col("text"), "utf-8").as("media")),
        "doc_id", "media")),

    // Frame sampling: generator explode of every 2nd frame index.
    "mm3_frame_sample" -> ((s, d) =>
      Multimodal.sampleFrames(
        Multimodal.decodeMeta(
          Tables.documents(s, d)
            .select(col("doc_id"), encode(col("text"), "utf-8").as("media")),
          "doc_id", "media"),
        "doc_id", stride = 2)),

    // REAL codec round-trip: per document a tiny grayscale PNG (pixel
    // pattern a pure function of doc_id — see imagePngDocs) is ENCODED
    // through javax.imageio on the executors, then DECODED back by
    // Multimodal.decodeLumaGrid (the real-decoder front of the aHash
    // contract) and average-hashed over the decoded pixels. PNG gray is
    // lossless, so the oracle replays the hash from the pattern
    // arithmetic with no codec of its own — a pixel lost or shifted
    // anywhere in the encode→decode→grid path breaks the hash.
    "mm4_imageio_roundtrip" -> ((s, d) =>
      Multimodal.decodeLumaGrid(imagePngDocs(s, d), "doc_id", "media")
        .select(col("doc_id"), col("width").cast("long").as("width"),
          col("height").cast("long").as("height"),
          graft.functions.TextFunctions.aHash61(col("grid")).as("ahash"))),

    // RESIZE — the missing multimodal verb: mm4's real-codec decode
    // fed through nearest-neighbor resize to the canonical 8x8
    // perceptual-hash grid, then average-hashed. Resize is pure pixel
    // indexing (resized(y',x') = source(⌊y'h/8⌋, ⌊x'w/8⌋)), so the
    // oracle replays decode∘resize∘hash entirely as arithmetic on the
    // known pattern — a pixel mis-indexed by the resampler anywhere
    // (row-major mixup, off-by-one in the floor map, up- vs
    // down-sampling) lands in a different hash cell and breaks the row.
    "mm5_resize_nearest" -> ((s, d) =>
      Multimodal.resizeNearest(
        Multimodal.decodeLumaGrid(imagePngDocs(s, d), "doc_id", "media"),
        "doc_id", targetW = 8, targetH = 8)
        .select(col("doc_id"), col("width").cast("long").as("width"),
          col("height").cast("long").as("height"),
          graft.functions.TextFunctions.aHash61(col("grid")).as("ahash"))),

    // ---- BPE (learned tokenizer; graft.operators.Bpe) ----
    // Vocabulary induction over the corpus word histogram: one corpus
    // scan, then bpeMerges rounds of pair-count → argmax → merge, all on
    // the distinct-word table. The oracle replays every round as a
    // chained MATERIALIZED CTE — counts, tie-breaks, and the leftmost-
    // nonoverlapping merge fold are engine-neutral, so the learned
    // merge table matches bit-for-bit.
    "tk1_bpe_vocab" -> ((s, d) => {
      import s.implicits._
      Bpe.learn(Tables.documents(s, d), "text", bpeMerges).merges
        .map(m => (m.mergeRank, m.leftSym, m.rightSym, m.merged, m.pairCount))
        .toDF("merge_rank", "left_sym", "right_sym", "merged", "pair_count")
    }),

    // Tokenization with the learned model: per-word lookup through the
    // final word → symbols mapping (position-preserving explode + join
    // + ordered re-assembly). The oracle re-learns the same merges and
    // maps each document's words through the final histogram — the
    // bpe_text hash match pins the whole pipeline end-to-end.
    "tk2_bpe_tokenize" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      Bpe.tokenize(docs, "doc_id", "text",
        Bpe.learn(docs, "text", bpeMerges))
    }),

    // The apply-only tokenizer: learn the model on the curated 'src0'
    // slice, tokenize the WHOLE corpus with it — the fixed-tokenizer
    // path of every production pipeline (train once, apply to each new
    // crawl). In-vocab words resolve through the model's lookup table;
    // OOV words replay the ranked merge list per DISTINCT word. The
    // oracle replays ALL words through the merge-rank fold — the hash
    // match therefore also proves lookup ≡ replay for in-vocab words.
    "tk3_bpe_apply" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      Bpe.applyModel(docs, "doc_id", "text",
        Bpe.learn(docs.filter(col("source") === "src0"), "text", bpeMerges))
    }),

    // The tokenizer-training pipeline end-to-end: quality-gate (Gopher
    // battery) → exact dedup keep-first (content-key groupBy + join-back
    // so text never rides the content exchange — the dd8 discipline) →
    // learn BPE on the SURVIVORS (the merges differ from tk1's, since
    // the corpus does) → tokenize the survivors. The corpus plants
    // exact copies (same lang) of every 10th doc so the dedup stage has
    // real work; the oracle replays every stage, BPE rounds included,
    // over the surviving raw text.
    "pl5_bpe_pipeline" -> ((s, d) => {
      val docs = Tables.documents(s, d)
        .select(col("doc_id"), col("lang"), col("text"))
      val corpus = docs.union(docs.filter(col("doc_id") % 10 === 0)
        .select((col("doc_id") + 1000000L).as("doc_id"), col("lang"),
          col("text")))
      val kept = corpus.filter(GopherRules.keep(col("text")))
      val keepIds = kept
        .groupBy(T.fingerprint64(col("text")).as("fp"),
          length(col("text")).as("ln"))
        .agg(min(col("doc_id")).as("doc_id"))
        .select(col("doc_id"))
      val surv = kept.join(keepIds, Seq("doc_id")).localCheckpoint()
      Bpe.tokenize(surv, "doc_id", "text", Bpe.learn(surv, "text", bpeMerges))
        .join(surv.select(col("doc_id"), col("lang")), Seq("doc_id"))
        .select(col("doc_id"), col("lang"), col("n_tokens"))
    }),

    // The dataset card — the per-(lang, source) datasheet every corpus
    // release ships: doc and token counts, distinct-text count (the
    // exact-dup-rate numerator), and how many docs clear the Gopher
    // battery. ONE corpus scan into a grouped aggregate with map-side
    // partials; every measure is integer (count / sum / count-distinct
    // / gated count), so the reduction is exact cross-engine. At 100 TB
    // the only exchange carries (lang, source)-keyed partials — the
    // count-distinct expands the partials to per-group text sets, so a
    // skewed release would swap it for an approx_count_distinct or a
    // pre-distinct two-phase aggregate, same contract.
    "pl6_dataset_card" -> ((s, d) =>
      Tables.documents(s, d)
        .groupBy(col("lang"), col("source"))
        .agg(count(lit(1)).as("n_docs"),
          sum(T.tokenCount(col("text"))).as("n_tokens"),
          countDistinct(col("text")).as("n_distinct_texts"),
          sum(when(GopherRules.keep(col("text")), 1L).otherwise(0L))
            .as("n_gopher_keep"))),

    // The day-N ingest funnel, staged cheapest-first the way a
    // production crawl pipeline runs it: (1) exact content-key gate
    // (dd12 — a 16-byte anti join kills verbatim re-crawls before
    // anything fuzzy spends a shuffle), (2) MinHash near-dup gate
    // against the frozen prior index (dd14) over the exact survivors
    // only, (3) Gopher quality battery (x15 — a narrow projection) over
    // the dedup survivors. One fate per batch doc; dup_of/jaccard carry
    // the near-dup evidence. Every stage is the already-audited
    // operator — the funnel adds only batch-sized left joins.
    "pl7_ingest_funnel" -> ((s, d) => {
      val batch = incrBatchDocs(s, d)
      val prior = Tables.documents(s, d)
      // localCheckpoint: the exact-gate survivors feed FOUR consumers
      // (dd14's band rows + signature fetch, the fuzzy-kept join, the
      // quality stage) — without it the corpus-sized content-key anti
      // join would evaluate once per consumer (the pl1-pl4
      // stage-boundary discipline)
      val exactKept = Dedup.incrementalNew(batch,
        prior.select(col("text")), "text").localCheckpoint()
      // localCheckpoint: the gate verdict feeds both the fuzzy-kept
      // join and the fate projection — without it the verify pipeline
      // (including a second corpus-sized prior scan for the candidate
      // text fetch) replays per consumer. The verdict is batch-sized:
      // one row per exact-gate survivor.
      val fuzzy = Dedup.incrementalMinHash(exactKept, prior,
        "doc_id", "text", shingleK = 3, numHashes = 32, bands = 8,
        threshold = 0.5).localCheckpoint()
      val fuzzyKept = exactKept.join(
        fuzzy.filter(col("keep")).select(col("doc_id")), Seq("doc_id"))
      val quality = GopherRules.report(fuzzyKept, "doc_id", "text")
        .select(col("doc_id"), col("keep").as("q_keep"))
      batch.select(col("doc_id"))
        .join(fuzzy.select(col("doc_id"), col("keep").as("fz_keep"),
          col("dup_of"), col("jaccard")), Seq("doc_id"), "left")
        .join(quality, Seq("doc_id"), "left")
        .select(col("doc_id"),
          when(col("fz_keep").isNull, "exact_dup")
            .when(!col("fz_keep"), "near_dup")
            .when(!col("q_keep"), "low_quality")
            .otherwise("kept").as("fate"),
          col("dup_of"), col("jaccard"))
    }),

    // The full RAG query path as ONE pipeline — the retrieval stack
    // composed end-to-end: sparse arm = per-query BM25 rank-depth lists
    // (x13's scorer), dense arm = sim7's quantized SQ8 scan + exact-
    // cosine re-rank (the memory-bound production ANN), sim10's
    // reciprocal-rank fusion, then ck2's boundary-aligned chunking over
    // ONLY the retrieved documents — chunk attribution is query-side
    // work (≤ |Q|·10 docs reach the chunker through a broadcast join;
    // the corpus is scanned exactly once per retriever arm). Stage
    // boundary at the fused list (the pl1-pl7 localCheckpoint
    // discipline): neither retrieval arm replays per chunk consumer.
    "pl8_rag_retrieval" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      val emb = Tables.embeddings(s, d).select(col("vec_id"), col("embedding"))
      // r21: one corpus pass for all sparse arms (the sim10 receipt)
      val sparseScored = Relevance.bm25PerQuery(docs, "doc_id", "text",
          hybridQueries.map { case (qid, terms, _) => qid -> terms },
          k1 = bm25K1, b = bm25B)
        .select(col("query_id"), col("doc_id"), col("bm25"))
      val ws = org.apache.spark.sql.expressions.Window
        .partitionBy(col("query_id"))
        .orderBy(col("bm25").desc, col("doc_id"))
      val sparseRanked = sparseScored
        .withColumn("rank", row_number().over(ws).cast("long"))
        .filter(col("rank") <= hybridFetchK)
        .select(col("query_id"), col("doc_id"), col("rank"))
      val qvecMap = hybridQueries.map { case (qid, _, vid) => vid -> qid }
      val denseRanked = Similarity.sq8TopK(
        emb.filter(col("vec_id").isin(qvecMap.map(_._1): _*)), emb,
        "vec_id", "embedding", k = hybridFetchK, rerank = 2 * hybridFetchK)
        .select(qvecMap.tail.foldLeft(
            when(col("query_id") === qvecMap.head._1, qvecMap.head._2)) {
            case (c, (vid, qid)) => c.when(col("query_id") === vid, qid)
          }.as("query_id"),
          col("neighbor_id").as("doc_id"), col("rank"))
      val fused = Relevance.rrfFuse(Seq(sparseRanked, denseRanked), k = 10,
        kRrf = hybridKRrf).localCheckpoint()
      val hitDocs = fused.select(col("doc_id")).distinct()
      val chunks = Chunker.sentencePack(
        sentenced(docs.select(col("doc_id"), col("text"))
          .join(broadcast(hitDocs), Seq("doc_id"))),
        "doc_id", col("sentences"), budget = 24)
        .select(col("id").as("doc_id"), col("chunk_id"), col("chunk"),
          col("n_tokens"))
      fused.join(chunks, Seq("doc_id"))
        .select(col("query_id"), col("doc_id"), col("rrf"), col("rank"),
          col("chunk_id"), col("chunk"), col("n_tokens"))
    }),

    // The multimodal dedup pipeline end-to-end — the frontier
    // crawl-dedup shape for video/media: mm2's batched stub decode →
    // mm3's frame sampling → dd15's aHash PER FRAME (banded by the
    // signature-generic Manku engine, grouped on frame_no so only
    // aligned frames compare) → media-level rollup: two media are
    // near-dups when ≥ 2 of their sampled frames band-match within
    // hamming 3. The planted same-length perturbation differs only in
    // byte 0, so its frame-0 hash lands within a few bits and every
    // later sampled frame (a suffix past the changed byte) at hamming
    // 0 — exactly how a re-encoded video survives a frame-level match.
    // The oracle replays decode arithmetic, frame grid, per-frame hash,
    // and the UNFILTERED per-frame n² (dd15's lossless-banding
    // discipline), then the same rollup.
    "pl9_multimodal_dedup" -> ((s, d) =>
      Dedup.perceptualFrameDup(
        pl9Frames(pl9Media(phashDocs(s, d))),
        "doc_id", "frame_no", "frame", maxHamming = 3)
        .groupBy(col("doc_a"), col("doc_b"))
        .agg(count(lit(1)).as("n_frames_matched"),
          min(col("hamming")).as("min_hamming"))
        .filter(col("n_frames_matched") >= 2)),

    // The STREAMING curation pipeline end-to-end: staged crawl drops
    // (one file per micro-batch, day-stamped) → the dd14 fuzzy ingest
    // gate against the frozen prior (two stream-static joins) → x15's
    // stateless Gopher battery → TWO chained streaming window
    // aggregations producing per-(day, source, fate) counts in append
    // mode under a real advancing watermark. The derivation is
    // incrBatchKeeping — incrBatchOf's three branches carrying
    // (source, arrival_ts) through — so the oracle's batch CTE and the
    // stream gate one ingest rule. Plan story and at-scale shape in
    // StreamingRun.curationPipeline's scaladoc.
    "pl10_streaming_curation" -> ((s, d) => {
      val staged =
        graft.streaming.StreamingRun.stageDocsOrdered(s, d, pl10Files)
      graft.streaming.StreamingRun.curationPipeline(s, staged,
        prior = Tables.documents(s, d).select(col("doc_id"), col("text")),
        deriveBatch = docs =>
          incrBatchKeeping(docs, Seq("source", "arrival_ts")),
        gopherKeep = GopherRules.keep(col("text")))
    }),

    // pl11: STREAMING TOKEN-BUDGET ADMISSION — per-source training
    // quotas enforced on the ingest path through a cross-micro-batch
    // GroupState[Long] running total (FlatMapGroupsWithStateExec over
    // the same staged crawl drops as pl10). A source's budget typically
    // exhausts in a LATER drop than it started, so every admission
    // decision past the first drop depends on recovered state, and the
    // emitted cum_tokens pins the state trajectory itself. Order
    // contract + at-scale shape in StreamingRun.tokenBudgetAdmission's
    // scaladoc; oracle = one window cumsum per source.
    "pl11_streaming_token_budget" -> ((s, d) =>
      graft.streaming.StreamingRun.tokenBudgetAdmission(s, d,
        nFiles = pl10Files, budget = pl11Budget)),

    // w20: CHECKPOINT RESTORE FOR OPERATOR STATE — pl11's token-budget
    // admission killed after draining all but the last staged drop and
    // restarted from its own checkpoint (a NEW query, asserted to
    // resume: first executed batch ≥ nFiles−1). The union of the two
    // runs' emissions must equal pl11's single-run output — the oracle
    // IS pl11's cumsum replay verbatim, so a restore that loses or
    // inflates a source's recovered GroupState[Long] visibly re-admits
    // past the budget or truncates admissions, and every emitted
    // cum_tokens pins the recovered trajectory itself. w18 proves the
    // AGGREGATION layout recovers; this proves the custom OPERATOR
    // state does (the reference snapshots both through the same epoch
    // barrier — arcon/src/stream/node/mod.rs:461-507).
    "w20_streaming_operator_restore" -> ((s, d) =>
      graft.streaming.StreamingRun.tokenBudgetAdmissionRestored(s, d,
        nFiles = pl10Files, budget = pl11Budget)),

    // pl12: the perceptual dedup pipeline on the REAL codec — the
    // flagship image near-dup path with no stub anywhere: javax.imageio
    // PNG decode (mm4) → nearest-neighbor resize to the canonical 8×8
    // hash grid (mm5) → aHash61 over decoded-and-resized pixels →
    // dd15's Manku banding engine, signatures materialized ONCE so the
    // engine's two consumer shapes cannot re-run the decode (the
    // perceptualFrameDup discipline). Planted re-encode artifacts
    // (one gray level on one pixel of every 16th doc's image) must
    // surface as small-hamming pairs. The oracle replays
    // decode∘resize∘hash as pattern arithmetic (PNG gray is lossless
    // — mm4/mm5 pin both directions bit-exact) and then the UNFILTERED
    // n² verify, so a hash match proves the banded pipeline result IS
    // the brute force over real decoded pixels. At 100 TB: decode and
    // resize are narrow (no exchange ever carries pixels — the
    // signature exchange ships 16 bytes/row), banding is the dd15
    // engine, pair volume tracks dup mass (hash-diverse corpus by
    // construction, see imagePngPairDocs).
    "pl12_perceptual_pipeline" -> ((s, d) =>
      Dedup.perceptualHashDup(
        Multimodal.resizeNearest(
          Multimodal.decodeLumaGrid(imagePngPairDocs(s, d), "doc_id", "media"),
          "doc_id", targetW = 8, targetH = 8),
        "doc_id", "grid", maxHamming = 3, materializeSignatures = true)),

    // pl13: STREAMING ANN-INDEX INGEST — the IVF coarse layer built on
    // the ingest path: staged embedding drops → nearest-centroid
    // assignment as a pure projection against the broadcast stub
    // centroids (sim3's deterministic contract) → ONE cell-keyed
    // streaming aggregation (StateStoreSaveExec, complete mode)
    // maintaining the per-cell census with an integer membership pin
    // (sum_vec_ids). The retrieval index's build job as a stream;
    // oracle = the batch argmax assignment + census.
    "pl13_streaming_ann_ingest" -> ((s, d) =>
      graft.streaming.StreamingRun.ivfCellIngest(s, d,
        nFiles = pl10Files, nCells = 8)),

    // pl15: SERVE FROM THE STREAM-BUILT ANN INDEX — pl13's assignment
    // plan drained APPEND into a materialized (cell, vec, embedding)
    // index table, then the sim3 query set served from it (broadcast
    // probe selection → one cell-keyed exchange → exact re-rank).
    // Oracle = sim3's batch IVF replay VERBATIM: build-on-stream /
    // serve-after must equal batch retrieval end to end.
    "pl15_streaming_ann_serve" -> ((s, d) =>
      graft.streaming.StreamingRun.ivfServeFromStream(s, d,
        nFiles = pl10Files, nCells = 8, nProbe = 2, k = 5)),

    // mm7: REAL multi-frame decode — the video-shaped path with a real
    // codec per frame: a length-prefixed container of PNG frames is
    // demuxed (offset parse) and each frame decoded through
    // javax.imageio, then average-hashed — one row per (doc, frame).
    // The oracle replays demux+decode+hash as pattern arithmetic
    // keyed by (doc_id, frame_no): PNG gray is lossless, so only the
    // Spark side needs the codec (the mm4 discipline, per frame).
    "mm7_frame_decode" -> ((s, d) =>
      graft.operators.Multimodal.decodeFrames(
        videoPngDocs(s, d, planted = false), "doc_id", "media")
        .select(col("doc_id"), col("frame_no").cast("long").as("frame_no"),
          col("width").cast("long").as("width"),
          col("height").cast("long").as("height"),
          graft.functions.TextFunctions.aHash61(col("grid")).as("ahash"))),

    // mm8: the SAME frames through a SECOND real container — multipage
    // TIFF, demuxed by the JDK's own TIFF plugin instead of the
    // length-prefix parse. The decodeFrames "a real demuxer swaps in
    // and nothing else changes" claim as a receipt: identical pixel
    // pattern, identical downstream hash, and the ORACLE IS mm7's
    // replay VERBATIM (8-bit gray TIFF is lossless).
    "mm8_tiff_frame_decode" -> ((s, d) =>
      graft.operators.Multimodal.decodeFramesImageIO(
        videoTiffDocs(s, d), "doc_id", "media")
        .select(col("doc_id"), col("frame_no").cast("long").as("frame_no"),
          col("width").cast("long").as("width"),
          col("height").cast("long").as("height"),
          graft.functions.TextFunctions.aHash61(col("grid")).as("ahash"))),

    // pl14: the VIDEO perceptual-dedup pipeline on the real codec —
    // pl9's flagship shape with the stub retired: container demux →
    // REAL per-frame decode (mm7) → per-frame resize to the canonical
    // 8×8 hash grid (mm5 at frame granularity — load-bearing, not
    // cosmetic: a raw 4–8-px-a-side frame populates only w·h of the 61
    // hash cells, and the shared always-zero cells weld unrelated
    // same-shape frames into small-hamming matches — probed: 542 pairs
    // for 32 plants at sf0.001 without the resize, 32-ish with it) →
    // per-frame aHash61 → dd15's Manku banding grouped on frame_no
    // (only aligned frames compare; signatures materialized once —
    // perceptualFrameDup's built-in stage boundary) → media-level
    // rollup: near-dups when ≥ 2 aligned frames band-match within
    // hamming 3. The planted copies perturb only frame 0 by one gray
    // level, so every later frame matches at hamming 0 — exactly how a
    // clip with one re-encoded frame survives a frame-level match.
    // Oracle = demux/decode/resize/hash as (doc, frame)-keyed pattern
    // arithmetic, the UNFILTERED per-frame n², then the same rollup.
    "pl14_video_dedup" -> ((s, d) =>
      Dedup.perceptualFrameDup(
        graft.operators.Multimodal.resizeNearestFrames(
          graft.operators.Multimodal.decodeFrames(
            videoPngDocs(s, d, planted = true), "doc_id", "media"),
          "doc_id", "frame_no", targetW = 8, targetH = 8),
        "doc_id", "frame_no", "grid", maxHamming = 3)
        .groupBy(col("doc_a"), col("doc_b"))
        .agg(count(lit(1)).as("n_frames_matched"),
          min(col("hamming")).as("min_hamming"))
        .filter(col("n_frames_matched") >= 2)),

    // mm6: MEDIA NORMALIZATION STATS — per-source decoded-pixel
    // moments over the real-codec corpus (mm4's PNGs): exact Long
    // (count, Σpx, Σpx²) folded per image BEFORE any shuffle
    // (Multimodal.pixelMoments), then one per-source aggregate over
    // 4-Long rows — the dataset-card normalization row for the
    // multimodal column, extending pl6's card discipline (x19 integer
    // quantization: mean published as exact milli-units plus the raw
    // moments; std is derivable without another corpus pass). The
    // doc→source attach here is a scalar join at test scale; a
    // production decode carries source through the generator
    // projection (the mm3 keepCols pattern) and skips it.
    "mm6_pixel_stats" -> ((s, d) =>
      Multimodal.pixelMoments(
        Multimodal.decodeLumaGrid(imagePngDocs(s, d), "doc_id", "media"),
        "doc_id")
        .join(Tables.documents(s, d).select(col("doc_id"), col("source")),
          Seq("doc_id"))
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_media"),
          sum(col("n_pixels")).as("n_pixels"),
          sum(col("sum_px")).as("sum_px"),
          sum(col("sum_sq_px")).as("sum_sq_px"))
        .withColumn("mean_millipx", expr("(sum_px * 1000) DIV n_pixels")))
  )

  /** pl11's per-source token budget — interpolated into the oracle's
    * cumsum filter and passed to the operator (one source of truth).
    * ~60% of a source's sf0.01 total, so every source exhausts
    * mid-protocol and the cross-batch state is load-bearing. */
  private val pl11Budget = 800L

  /** The aHash61 cell chain as DuckDB CTEs, keyed by `keys` (the
    * pl9/dd15 replay over an int list): expects an upstream
    * `px($keys, n, bs)` where `bs` is the n-pixel luma list, and
    * yields `sig($keys, ahash)`. Shared by mm4/mm5/pl12 (doc_id) and
    * mm7/pl14 (doc_id, frame_no). */
  private def aHash61ChainSqlKeyed(keys: String): String =
    s"""cl AS (
       |  SELECT $keys, list_transform(range(61), j ->
       |      CASE WHEN ((j+1)*n)//61 > (j*n)//61
       |        THEN list_sum(bs[CAST((j*n)//61 AS INT)+1 : CAST(((j+1)*n)//61 AS INT)])
       |             // (((j+1)*n)//61 - (j*n)//61)
       |        ELSE 0 END) AS cells
       |  FROM px),
       |sig AS (
       |  SELECT $keys, CAST(list_sum(list_transform(range(61), j ->
       |      CASE WHEN cells[CAST(j AS INT)+1] > list_sum(cells) // 61
       |        THEN CAST(1 AS BIGINT) << CAST(j AS INT)
       |        ELSE CAST(0 AS BIGINT) END)) AS BIGINT) AS ahash
       |  FROM cl)""".stripMargin

  private val aHash61ChainSql: String = aHash61ChainSqlKeyed("doc_id")

  /** The multi-frame demux+decode+hash replay — shared VERBATIM by mm7
    * (length-prefixed PNG container) and mm8 (multipage TIFF — not
    * GIF: the JDK GIF writer was probed lossy, see videoTiffDocs):
    * both containers carry the same lossless gray frames, so the
    * replay is container-agnostic by construction — which is exactly
    * the claim the two rows make together. */
  private lazy val mm7Sql: String =
    s"""WITH m AS (
       |  SELECT doc_id, doc_id % 5 + 4 AS w, doc_id % 3 + 4 AS h,
       |    doc_id % 251 AS c1, doc_id % 241 AS c2, doc_id % 4 + 2 AS nf
       |  FROM documents),
       |fr AS (
       |  SELECT doc_id, w, h, c1, c2,
       |    CAST(unnest(range(nf)) AS BIGINT) AS frame_no
       |  FROM m),
       |px AS (
       |  SELECT doc_id, frame_no, w * h AS n,
       |    list_transform(range(w * h), i ->
       |      (c1 * (i + 3) + c2 * (i * i + 1) + 17 * frame_no) % 256) AS bs
       |  FROM fr),
       |${aHash61ChainSqlKeyed("doc_id, frame_no")}
       |SELECT fr.doc_id, fr.frame_no, CAST(fr.w AS BIGINT) AS width,
       |  CAST(fr.h AS BIGINT) AS height, sig.ahash
       |FROM fr JOIN sig USING (doc_id, frame_no)""".stripMargin

  /** pl10's staged crawl-drop count — interpolated into the oracle's
    * ntile and passed to the stager (one source of truth). */
  private val pl10Files = 4

  /** mm4's real-PNG fixture corpus: per document one tiny 8-bit
    * grayscale PNG, ENCODED through the real codec (javax.imageio) on
    * the executors — pixel (x, y) = (doc_id·31 + x·7 + y·13) mod 256,
    * width doc_id%5+4, height doc_id%3+4. The pattern is a pure
    * function of doc_id so the DuckDB oracle can recompute the decoded
    * pixels arithmetically: PNG gray is lossless, hence
    * decode(encode(pattern)) = pattern and only the Spark side needs a
    * codec. */
  private def imagePngDocs(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.Encoders
    Tables.documents(s, d).select(col("doc_id"))
      .as[Long](Encoders.scalaLong)
      .mapPartitions { it =>
        it.map { id =>
          val w = (id % 5 + 4).toInt
          val h = (id % 3 + 4).toInt
          (id, encodeGrayPng(w, h,
            (x, y) => ((id * 31 + x * 7 + y * 13) % 256).toInt))
        }
      }(Encoders.tuple(Encoders.scalaLong, Encoders.BINARY))
      .toDF("doc_id", "media")
  }

  /** Encode one 8-bit grayscale image through the REAL codec
    * (javax.imageio PNG) from a per-pixel intensity function —
    * executor-side helper behind [[imagePngDocs]] (mm4/mm5) and
    * [[imagePngPairDocs]] (pl12). The per-call
    * MemoryCacheImageOutputStream picks ImageIO's memory cache for
    * THIS encode only (the OutputStream overload's default is a temp
    * FILE per encode — pure I/O overhead for in-memory byte media —
    * and the setUseCache(false) alternative flips a process-global
    * flag every other ImageIO user in the executor JVM would silently
    * inherit). */
  private def encodeGrayPng(w: Int, h: Int,
      px: (Int, Int) => Int): Array[Byte] = {
    val img = new java.awt.image.BufferedImage(w, h,
      java.awt.image.BufferedImage.TYPE_BYTE_GRAY)
    val raster = img.getRaster
    var y = 0
    while (y < h) {
      var x = 0
      while (x < w) {
        raster.setSample(x, y, 0, px(x, y))
        x += 1
      }
      y += 1
    }
    val bos = new java.io.ByteArrayOutputStream()
    val ios = new javax.imageio.stream.MemoryCacheImageOutputStream(bos)
    try javax.imageio.ImageIO.write(img, "png", ios)
    finally ios.close()
    bos.toByteArray
  }

  /** mm8's MULTIPAGE-TIFF corpus: the SAME per-frame pixel pattern and
    * (w, h, nFrames) geometry as [[videoPngDocs]] (unplanted), but the
    * container is one real multipage TIFF per document — the JDK TIFF
    * writer sequencing TYPE_BYTE_GRAY pages (8-bit gray TIFF is
    * lossless, so the mm7 oracle replays this container VERBATIM:
    * same pattern, different demuxer, same hashes). The GIF writer
    * was tried first and probed LOSSY for animation sequences (a
    * constant frame came back with its last row zeroed), which is
    * exactly the kind of codec landmine the fail-loud decode contract
    * exists to catch. */
  private def videoTiffDocs(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.Encoders
    Tables.documents(s, d)
      .select(col("doc_id"))
      .as[Long](Encoders.scalaLong)
      .mapPartitions { it =>
        it.map { b =>
          val w = (b % 5 + 4).toInt
          val h = (b % 3 + 4).toInt
          val nf = (b % 4 + 2).toInt
          val c1 = b % 251
          val c2 = b % 241
          val bos = new java.io.ByteArrayOutputStream()
          val ios = new javax.imageio.stream.MemoryCacheImageOutputStream(bos)
          val writer = javax.imageio.ImageIO
            .getImageWritersByFormatName("tiff").next()
          try {
            writer.setOutput(ios)
            writer.prepareWriteSequence(null)
            var f = 0
            while (f < nf) {
              val img = new java.awt.image.BufferedImage(w, h,
                java.awt.image.BufferedImage.TYPE_BYTE_GRAY)
              val raster = img.getRaster
              var y = 0
              while (y < h) {
                var x = 0
                while (x < w) {
                  val i = y * w + x
                  raster.setSample(x, y, 0,
                    ((c1 * (i + 3) + c2 * (i.toLong * i + 1) + 17L * f)
                      % 256L).toInt)
                  x += 1
                }
                y += 1
              }
              writer.writeToSequence(
                new javax.imageio.IIOImage(img, null, null), null)
              f += 1
            }
            writer.endWriteSequence()
          } finally {
            writer.dispose()
            ios.close()
          }
          (b, bos.toByteArray)
        }
      }(Encoders.tuple(Encoders.scalaLong, Encoders.BINARY))
      .toDF("doc_id", "media")
  }

  /** pl12's real-PNG NEAR-DUP corpus: every document gets a
    * deterministic grayscale PNG, and every 16th document additionally
    * a PLANTED near-dup copy (id + 2,000,000) — SAME dimensions, same
    * pixel pattern computed from the BASE id, with pixel (0, 0)
    * raised one gray level: the "same image, re-encoded with a tiny
    * artifact" analog, which lands within a few aHash bits of its
    * base after the 8×8 resize.
    *
    * The pixel pattern deliberately differs from mm4's: mm4's
    * `base·31 + 7x + 13y` is LINEAR in (x, y), so two same-shape
    * images differ by a constant offset wherever neither wraps mod
    * 256 — and a constant offset is invisible to cells-vs-mean
    * average hashing, which would weld whole (w, h) classes into one
    * giant hamming-0 clique and make the pair output quadratic in the
    * corpus. Here pixel i (flat, row-major) =
    * `((base mod 251)·(i+3) + (base mod 241)·(i²+1)) mod 256` — the
    * quadratic term wraps differently per document, and two documents
    * collide only when BOTH residues match (mod 251·241 ≈ 60 k, above
    * the sf0.1 corpus), so unplanted signatures are hash-diverse and
    * the pair volume tracks the planted dup mass. The formula is pure
    * integer arithmetic, replayed verbatim by the DuckDB oracle
    * through the resize index map. */
  private[queries] def imagePngPairDocs(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.Encoders
    val base = Tables.documents(s, d)
      .select(col("doc_id"), col("doc_id").as("base"), lit(false).as("perturb"))
    val plants = Tables.documents(s, d)
      .filter(col("doc_id") % 16 === 0)
      .select((col("doc_id") + 2000000L).as("doc_id"),
        col("doc_id").as("base"), lit(true).as("perturb"))
    base.union(plants)
      .as[(Long, Long, Boolean)](Encoders.tuple(Encoders.scalaLong,
        Encoders.scalaLong, Encoders.scalaBoolean))
      .mapPartitions { it =>
        it.map { case (id, b, perturb) =>
          val w = (b % 5 + 4).toInt
          val h = (b % 3 + 4).toInt
          val c1 = b % 251
          val c2 = b % 241
          (id, encodeGrayPng(w, h, (x, y) => {
            val i = y * w + x
            val bump = if (perturb && i == 0) 1L else 0L
            ((c1 * (i + 3) + c2 * (i.toLong * i + 1) + bump) % 256L).toInt
          }))
        }
      }(Encoders.tuple(Encoders.scalaLong, Encoders.BINARY))
      .toDF("doc_id", "media")
  }

  // ---------------------------------------------------------------------
  // DuckDB oracle SQL. Shared fragments below; every hash/fold matches the
  // Spark expression ops 1:1 (verified primitives: polyhash, simhash,
  // regexp token count, ordered double folds).
  // ---------------------------------------------------------------------

  /** Polynomial string hash: fold (acc*31 + codepoint) mod P. */
  private def ph(s: String): String =
    s"list_reduce(list_prepend(CAST(0 AS BIGINT), " +
      s"list_transform(string_split($s, ''), c -> CAST(ascii(c) AS BIGINT))), " +
      s"(a, b) -> (a*31 + b) % 1000000007)"

  /** Distinct 3-shingle polynomial hashes of a text column. */
  private def sh3(text: String): String =
    s"list_distinct(list_transform(list_transform(" +
      s"range(1, greatest(len(string_split($text, ' ')) - 2, 0) + 1), " +
      s"i -> array_to_string(list_slice(string_split($text, ' '), i, i + 2), ' ')), " +
      s"s -> ${ph("s")}))"

  /** Token-bigram polynomial hashes of a text column, occurrences kept
    * (no distinct) — the top-bigram-fraction input. */
  private def bg2(text: String): String =
    s"list_transform(list_transform(" +
      s"range(1, greatest(len(string_split($text, ' ')) - 1, 0) + 1), " +
      s"i -> array_to_string(list_slice(string_split($text, ' '), i, i + 1), ' ')), " +
      s"s -> ${ph("s")})"

  /** n-gram keys for the Gopher char-mass rules over a `ts` token-list
    * column: gram strings → `((ph·31 + len) mod P)·2²⁰ + len`, the exact
    * key of [[graft.functions.NativeText.ngramCharFrac]] (length packed
    * into the key so collisions — if any — merge identically in both
    * engines). */
  private def ngramKeysSql(n: Int): String =
    s"list_transform(list_transform(" +
      s"range(1, greatest(len(ts) - ${n - 1}, 0) + 1), " +
      s"i -> array_to_string(list_slice(ts, i, i + ${n - 1}), ' ')), " +
      s"x -> ((${ph("x")} * 31 + length(x)) % 1000000007) * 1048576 + least(length(x), 1048575))"

  /** Char mass of the most frequent gram in a keys-list column `k`. */
  private def topMassSql(k: String): String =
    s"CAST(list_max(list_transform(list_distinct($k), q -> " +
      s"CAST(len(list_filter($k, y -> y = q)) AS BIGINT) * (q % 1048576))) AS DOUBLE)"

  /** Total char mass of grams occurring ≥ 2 times in keys column `k`. */
  private def dupMassSql(k: String): String =
    s"CAST(coalesce(list_sum(list_transform(list_distinct($k), q -> " +
      s"CASE WHEN len(list_filter($k, y -> y = q)) >= 2 " +
      s"THEN CAST(len(list_filter($k, y -> y = q)) AS BIGINT) * (q % 1048576) " +
      s"ELSE 0 END)), 0) AS DOUBLE)"

  /** Char-mass fraction with the empty-text / no-grams guard of the
    * native loop. */
  private def ngramFracSql(k: String, dup: Boolean): String = {
    val mass = if (dup) dupMassSql(k) else topMassSql(k)
    s"CASE WHEN length(text) = 0 OR len($k) = 0 THEN 0.0 " +
      s"ELSE $mass / CAST(length(text) AS DOUBLE) END"
  }

  /** Jaccard of two distinct-hash lists with empty-union guard. */
  private def jac(a: String, b: String): String =
    s"CASE WHEN len(list_distinct(list_concat($a, $b))) = 0 THEN 0.0 " +
      s"ELSE CAST(len(list_intersect($a, $b)) AS DOUBLE) / " +
      s"CAST(len(list_distinct(list_concat($a, $b))) AS DOUBLE) END"

  /** Ordered-fold dot product of two FLOAT[] columns in double. */
  private def dot(a: String, b: String): String =
    s"list_reduce(list_prepend(CAST(0.0 AS DOUBLE), " +
      s"list_transform(range(64), i -> CAST($a[i+1] AS DOUBLE) * CAST($b[i+1] AS DOUBLE))), " +
      s"(x, y) -> x + y)"

  private def cos(a: String, b: String): String =
    s"(${dot(a, b)} / (sqrt(${dot(a, a)}) * sqrt(${dot(b, b)})))"

  /** The SQ8 int8-code CTE shared by the sim7/sim8 oracles — quantization
    * matching [[graft.operators.Similarity]]'s `q8` expression exactly
    * (float→double widening, ·127, floor, ±127 clamp). */
  private val sq8CodesCte: String =
    """e8 AS MATERIALIZED (
      |  SELECT vec_id,
      |    list_transform(embedding, x -> greatest(CAST(-127 AS BIGINT),
      |      least(CAST(127 AS BIGINT),
      |        CAST(floor(CAST(x AS DOUBLE) * 127) AS BIGINT)))) AS q8
      |  FROM embeddings)""".stripMargin

  /** Random-hyperplane LSH bucket (8 planes, dim 64) of a FLOAT[]
    * column — plane component = the quadratically-mixed sequence of
    * `NativeVector.lshSignature` (idx = p·64 + j + 1; non-linear in
    * idx so planes stay decorrelated), BIGINT-exact in DuckDB. */
  private def bucket(a: String): String =
    s"CAST(list_sum(list_transform(range(8), p -> " +
      s"CASE WHEN list_reduce(list_prepend(CAST(0.0 AS DOUBLE), " +
      s"list_transform(range(64), j -> CAST($a[j+1] AS DOUBLE) * " +
      s"(CAST((((p*64 + j + 1) * (p*64 + j + 1)) % 1000003 * 427799 " +
      s"+ (p*64 + j + 1) * 653 + 7919) % 1000003 AS DOUBLE) " +
      s"/ 1000003.0 - 0.5))), " +
      s"(x, y) -> x + y) > 0 THEN CAST(1 AS BIGINT) << p ELSE CAST(0 AS BIGINT) END)) AS BIGINT)"

  /** Low-half polynomial fold of the 61-bit simhash token hash
    * (multiplier 1000003 mod 2^31-1; bits 0..30 — the mod-1e9+7 fold
    * covers bits 31..60). */
  private def ph2(s: String): String =
    s"list_reduce(list_prepend(CAST(0 AS BIGINT), " +
      s"list_transform(string_split($s, ''), c -> CAST(ascii(c) AS BIGINT))), " +
      s"(a, b) -> (a*1000003 + b) % 2147483647)"

  /** 61-bit simhash of a text column (majority vote over packed
    * dual-fold token hashes — every signature bit carries signal). */
  private def simhash(text: String): String = {
    val hashes = s"list_transform(string_split($text, ' '), " +
      s"s -> ${ph("s")} * 2147483648 + ${ph2("s")})"
    s"CAST(list_sum(list_transform(range(61), j -> " +
      s"CASE WHEN 2 * CAST(list_sum(list_transform($hashes, x -> " +
      s"(x // (CAST(1 AS BIGINT) << j)) % 2)) AS BIGINT) > len($hashes) " +
      s"THEN CAST(1 AS BIGINT) << j ELSE CAST(0 AS BIGINT) END)) AS BIGINT)"
  }

  private val enStops = "['the','a','of','and','to','in','is']"

  /** BM25 parameters, shared by the x13 query registration AND its oracle
    * SQL (the SQL interpolates these same values) — one source of truth. */
  private val bm25K1 = 1.2
  private val bm25B = 0.75

  /** dd14's oracle — also w14's verbatim: the streaming gate must
    * agree with the batch gate verdict for verdict, bit for bit. */
  /** The ingest-batch derivation as a CTE — the SQL twin of
    * [[incrBatchOf]], shared by the dd14 and pl7 oracles (one
    * definition; a batch-derivation change hits every consumer). */
  private lazy val ingestBatchCte: String =
    """batch AS (
      |  SELECT doc_id + 1000000 AS doc_id, text FROM documents WHERE doc_id % 10 = 0
      |  UNION ALL
      |  SELECT doc_id + 2000000 AS doc_id,
      |    array_to_string(list_slice(string_split(text, ' '), 1,
      |      greatest((len(string_split(text, ' ')) * 4) // 5, 1)), ' ') AS text
      |  FROM documents WHERE doc_id % 10 = 0
      |  UNION ALL
      |  SELECT doc_id + 4000000 AS doc_id,
      |    array_to_string(list_reverse(string_split(text, ' ')), ' ') AS text
      |  FROM documents WHERE doc_id % 13 = 0)""".stripMargin

  /** The dd14 gate's band/candidate/verify/best CTE chain over batch
    * source `src` vs the `documents` prior — shared by the dd14 oracle
    * (src = the full batch) and pl7's (src = the exact-gate
    * survivors). Emits `best` (bid, pid, jaccard). */
  private def gateCtes(src: String): String =
    s"""${bandSql("b", src, "doc_id")},
       |${bandSql("p", "documents", "doc_id")},
       |cand AS (
       |  SELECT DISTINCT b.doc_id AS bid, p.doc_id AS pid
       |  FROM bband b JOIN pband p
       |    ON b.band = p.band AND b.band_key = p.band_key),
       |ver AS (
       |  SELECT bid, pid, jaccard FROM (
       |    SELECT c.bid, c.pid, ${jac("bs.shs", "ps.shs")} AS jaccard
       |    FROM cand c
       |    JOIN bsig bs ON bs.doc_id = c.bid
       |    JOIN psig ps ON ps.doc_id = c.pid)
       |  WHERE jaccard >= 0.5),
       |best AS (
       |  SELECT bid, pid, jaccard FROM (
       |    SELECT *, row_number() OVER (PARTITION BY bid
       |      ORDER BY jaccard DESC, pid) AS rk FROM ver)
       |  WHERE rk = 1)""".stripMargin

  private lazy val dd14Sql: String =
    s"""WITH $ingestBatchCte,
       |${gateCtes("batch")}
       |SELECT b.doc_id, best.pid IS NULL AS keep,
       |  best.pid AS dup_of, best.jaccard AS jaccard
       |FROM batch b LEFT JOIN best ON best.bid = b.doc_id""".stripMargin

  /** sim10's query set: (query_id, BM25 term set, dense query vec_id).
    * The Spark wiring and the oracle CTEs both derive from this one
    * value (the bm25K1/bm25B discipline — a query change must hit both
    * sides). */
  private val hybridQueries: Seq[(Long, Seq[String], Long)] = Seq(
    (0L, Seq("spark", "join", "window"), 5L),
    (1L, Seq("hash", "scan", "filter"), 17L),
    (2L, Seq("stream", "batch", "vector"), 29L))
  private val hybridFetchK = 20
  private val hybridKRrf = 60

  /** BM25-scored (doc_id, bm25) block for one term set — the x13
    * formula verbatim as a derived table; expects `dl` (doc_id, dl) and
    * `stats` (n, avgdl) CTEs in the enclosing query (outer CTEs are in
    * scope inside a nested WITH per the SQL standard; DuckDB honors
    * it). */
  private def bm25ScoredSqlFor(terms: Seq[String]): String = {
    val termList = terms.map(t => s"'$t'").mkString(", ")
    s"""(WITH qtf AS (SELECT doc_id, term, CAST(count(*) AS BIGINT) AS tf
       |        FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS term
       |              FROM documents) t WHERE term IN ($termList)
       |        GROUP BY 1, 2),
       |df AS (SELECT term, CAST(count(DISTINCT doc_id) AS BIGINT) AS df
       |       FROM qtf GROUP BY 1),
       |contrib AS (SELECT doc_id, term,
       |  ln((n - df + 0.5) / (df + 0.5) + 1.0)
       |    * (tf * ($bm25K1 + 1.0)) / (tf + ($bm25K1 * ((1.0 - $bm25B) + $bm25B * dl / avgdl))) AS contrib
       |  FROM qtf JOIN df USING (term) JOIN dl USING (doc_id) CROSS JOIN stats)
       |SELECT doc_id,
       |  list_reduce(array_agg(contrib ORDER BY term), (a, b) -> a + b) AS bm25
       |FROM contrib GROUP BY doc_id)""".stripMargin
  }

  private val nearDupDocsSql =
    """SELECT doc_id, text FROM documents
      |UNION ALL
      |SELECT doc_id + 1000000 AS doc_id,
      |  array_to_string(list_slice(string_split(text, ' '), 1,
      |    greatest((len(string_split(text, ' ')) * 4) // 5, 1)), ' ') AS text
      |FROM documents WHERE doc_id % 10 = 0""".stripMargin

  private val exactDupDocsSql =
    """SELECT doc_id, text FROM documents
      |UNION ALL
      |SELECT doc_id + 1000000 AS doc_id, text FROM documents
      |WHERE doc_id % 10 = 0""".stripMargin

  /** sim1 / sim3 as standalone statements — also composed by sim5's
    * recall audit. */
  private lazy val sim1Sql: String =
    s"""WITH q AS (SELECT vec_id AS query_id, embedding AS qv FROM embeddings WHERE vec_id < 20),
         |scored AS (
         |  SELECT query_id, c.vec_id AS neighbor_id, ${cos("qv", "c.embedding")} AS cosine
         |  FROM q, embeddings c WHERE c.vec_id <> query_id)
         |SELECT query_id, neighbor_id, cosine, "rank" FROM (
         |  SELECT *, CAST(row_number() OVER (PARTITION BY query_id
         |    ORDER BY cosine DESC, neighbor_id) AS BIGINT) AS "rank"
         |  FROM scored) WHERE "rank" <= 5""".stripMargin
  private lazy val sim3Sql: String =
    s"""WITH cents AS (
         |  SELECT vec_id AS cell, embedding AS centroid
         |  FROM embeddings WHERE vec_id < 8 AND embedding IS NOT NULL),
         |cells AS (
         |  SELECT cell, neighbor_id, cv FROM (
         |    SELECT c.cell, e.vec_id AS neighbor_id, e.embedding AS cv,
         |      row_number() OVER (PARTITION BY e.vec_id
         |        ORDER BY ${cos("e.embedding", "c.centroid")} DESC, c.cell) AS rn
         |    FROM embeddings e CROSS JOIN cents c) WHERE rn = 1),
         |probes AS (
         |  SELECT cell, query_id, qv FROM (
         |    SELECT c.cell, q.vec_id AS query_id, q.embedding AS qv,
         |      row_number() OVER (PARTITION BY q.vec_id
         |        ORDER BY ${cos("q.embedding", "c.centroid")} DESC, c.cell) AS rn
         |    FROM embeddings q CROSS JOIN cents c WHERE q.vec_id < 20) WHERE rn <= 2),
         |scored AS (
         |  SELECT query_id, neighbor_id, ${cos("qv", "cv")} AS cosine
         |  FROM probes JOIN cells USING (cell) WHERE neighbor_id <> query_id)
         |SELECT query_id, neighbor_id, cosine, "rank" FROM (
         |  SELECT *, CAST(row_number() OVER (PARTITION BY query_id
         |    ORDER BY cosine DESC, neighbor_id) AS BIGINT) AS "rank"
         |  FROM scored) WHERE "rank" <= 5""".stripMargin

  /** The ck2 sentence segmentation + boundary-aligned packing as a CTE
    * chain over `src` (any relation with doc_id, text), ending in table
    * `ck2chunks(doc_id, chunk_id, chunk, n_tokens, n_sentences)`.
    * Note list_slice is END-INCLUSIVE where Spark's slice is
    * length-based: list_slice(tk, a, a + len - 1 + 1) == slice(ts, a, len). */
  private def sentencePackSql(src: String, budget: Int): String =
    s"""d AS (SELECT doc_id, string_split(text, ' ') AS tk
       |  FROM $src WHERE text IS NOT NULL),
       |sen AS (SELECT doc_id, list_filter(list_transform(range(len(tk) // 3 + 1), i ->
       |    CASE WHEN 39*(i // 6) + ([0,5,14,21,24,35])[(i % 6) + 1] < len(tk)
       |    THEN array_to_string(list_slice(tk,
       |      39*(i // 6) + ([0,5,14,21,24,35])[(i % 6) + 1] + 1,
       |      39*(i // 6) + ([0,5,14,21,24,35])[(i % 6) + 1] + ([5,9,7,3,11,4])[(i % 6) + 1]), ' ')
       |    ELSE NULL END), s -> s IS NOT NULL AND len(s) > 0) AS sents FROM d),
       |tkx AS (SELECT doc_id, sents,
       |  list_transform(sents, s -> CAST(len(list_filter(string_split(s, ' '),
       |    w -> len(w) > 0)) AS BIGINT)) AS tkc FROM sen),
       |ex AS (SELECT doc_id, sents, tkc, unnest(range(len(sents))) AS i FROM tkx),
       |rows0 AS (SELECT doc_id, i, sents[i + 1] AS s, tkc[i + 1] AS tk,
       |  CAST(coalesce(list_sum(list_slice(tkc, 1, i)), 0) AS BIGINT) AS cumb FROM ex),
       |ck2chunks AS (SELECT doc_id, CAST(cumb // $budget AS BIGINT) AS chunk_id,
       |  array_to_string(list(s ORDER BY i), ' ') AS chunk,
       |  CAST(sum(tk) AS BIGINT) AS n_tokens,
       |  CAST(count(*) AS BIGINT) AS n_sentences
       |  FROM rows0 GROUP BY doc_id, cumb // $budget)""".stripMargin

  /** Full x15 oracle query (the Gopher rule battery) — also embedded as
    * a CTE by pl3's curation-pipeline oracle. */
  private lazy val x15Sql: String = x15SqlFor("documents")

  /** The same battery over any (doc_id, text) CTE/table `src` —
    * pl7's quality stage runs it over the dedup survivors. */
  private def x15SqlFor(src: String): String = {
    val keyCols = (GopherRules.topNgramMax ++ GopherRules.dupNgramMax)
      .map { case (n, _) => s"    ${ngramKeysSql(n)} AS k$n" }
      .mkString(",\n")
    val fracCols = (GopherRules.topNgramMax.map { case (n, _) =>
      s"    ${ngramFracSql(s"k$n", dup = false)} AS top${n}gram_frac" } ++
      GopherRules.dupNgramMax.map { case (n, _) =>
        s"    ${ngramFracSql(s"k$n", dup = true)} AS dup${n}gram_frac" })
      .mkString(",\n")
    val passQ = "n_tokens BETWEEN 50 AND 100000 " +
      "AND mean_tok_len BETWEEN 3.0 AND 10.0 " +
      "AND alpha_word_frac >= 0.8 AND stop_hits >= 2"
    val passR = (GopherRules.topNgramMax.map { case (n, thr) =>
      s"top${n}gram_frac <= $thr" } ++
      GopherRules.dupNgramMax.map { case (n, thr) =>
        s"dup${n}gram_frac <= $thr" }).mkString(" AND ")
    s"""WITH t AS (SELECT doc_id, text, string_split(text, ' ') AS ts FROM $src),
       |g AS (SELECT doc_id, text, ts,
       |$keyCols
       |  FROM t),
       |s AS (SELECT doc_id, text,
       |    CAST(len(ts) AS BIGINT) AS n_tokens,
       |    CAST(CAST(list_sum(list_transform(ts, w -> length(w))) AS BIGINT) AS DOUBLE)
       |      / CAST(len(ts) AS DOUBLE) AS mean_tok_len,
       |    CAST(len(list_filter(ts, w -> regexp_matches(w, '[a-z]'))) AS DOUBLE)
       |      / CAST(len(ts) AS DOUBLE) AS alpha_word_frac,
       |    CAST(len(list_filter($enStops, sw -> list_contains(ts, sw))) AS BIGINT) AS stop_hits,
       |$fracCols
       |  FROM g)
       |SELECT * EXCLUDE (text),
       |  coalesce($passQ, false) AS pass_quality,
       |  coalesce($passR, false) AS pass_repetition,
       |  coalesce(($passQ) AND ($passR), false) AS keep
       |FROM s""".stripMargin
  }

  /** sig + band CTE pair replaying `minHashBandKeys` (k = 3, 32 hashes,
    * 8 bands) over CTE/table `src` carrying (`idCol`, text) — emits
    * `<pfx>band(idCol, shs, band, band_key)`. Shared by x17 and pl3. */
  private def bandSql(pfx: String, src: String, idCol: String): String =
    s"""${pfx}sig AS (SELECT $idCol, ${sh3("text")} AS shs,
       |    list_transform(range(32), i -> CAST(list_min(list_transform(${sh3("text")},
       |      h -> (h * (2*i + 1) + (7919*i + 13)) % 1000000007)) AS BIGINT)) AS mh
       |  FROM $src),
       |${pfx}band AS (SELECT $idCol, shs, t.b AS band,
       |    list_reduce(list_prepend(CAST(0 AS BIGINT), list_slice(mh, t.b*4 + 1, t.b*4 + 4)),
       |      (a, v) -> (a*31 + v) % 1000000007) AS band_key
       |  FROM ${pfx}sig CROSS JOIN range(8) AS t(b))""".stripMargin

  /** The x17/pl3 benchmark stand-ins: 80%-prefix truncations of every
    * 97th document. */
  private val fuzzyBenchSql: String =
    """SELECT doc_id + 2000000 AS bid,
      |    array_to_string(list_slice(string_split(text, ' '), 1,
      |      greatest((len(string_split(text, ' ')) * 4) // 5, 1)), ' ') AS text
      |  FROM documents WHERE doc_id % 97 = 0""".stripMargin

  /** Shared connected-components prelude (dd2 pairs → recursive
    * reachability → min-id labels `lab` + `corpus`) — the cluster
    * machinery pl2 and sp3 both replay. */
  private lazy val ccLabSql: String =
    s"""WITH RECURSIVE p AS (
       |$dd2Sql
       |),
       |edges AS (SELECT doc_a AS a, doc_b AS b FROM p
       |          UNION SELECT doc_b, doc_a FROM p),
       |reach(n, m) AS (
       |  SELECT a, a FROM edges
       |  UNION
       |  SELECT e.a, r.m FROM reach r JOIN edges e ON e.b = r.n),
       |lab AS (SELECT n AS doc_id, min(m) AS cluster_id FROM reach GROUP BY n),
       |corpus AS ($nearDupDocsSql)""".stripMargin

  /** Full dd2 oracle query — also embedded as a CTE by dd6's recursive
    * connected-components oracle. */
  private lazy val dd2Sql: String =
    s"""WITH cand AS ($nearDupDocsSql),
       |sig AS (
       |  SELECT doc_id AS id, ${sh3("text")} AS shs,
       |    list_transform(range(32), i -> CAST(list_min(list_transform(${sh3("text")},
       |      h -> (h * (2*i + 1) + (7919*i + 13)) % 1000000007)) AS BIGINT)) AS mh
       |  FROM cand),
       |banded AS (
       |  SELECT id, shs, t.b AS band,
       |    list_reduce(list_prepend(CAST(0 AS BIGINT), list_slice(mh, t.b*4 + 1, t.b*4 + 4)),
       |      (a, v) -> (a*31 + v) % 1000000007) AS band_key
       |  FROM sig CROSS JOIN range(8) AS t(b)),
       |pairs AS (
       |  SELECT DISTINCT l.id AS doc_a, r.id AS doc_b,
       |    ${jac("l.shs", "r.shs")} AS jaccard
       |  FROM banded l JOIN banded r
       |    ON l.band = r.band AND l.band_key = r.band_key AND l.id < r.id)
       |SELECT doc_a, doc_b, jaccard FROM pairs WHERE jaccard >= 0.5""".stripMargin

  private val nearDupEmbSql =
    """SELECT vec_id, embedding FROM embeddings
      |UNION ALL
      |SELECT vec_id + 100000 AS vec_id,
      |  list_transform(embedding, x -> CAST(x * 0.5 AS FLOAT)) AS embedding
      |FROM embeddings WHERE vec_id % 20 = 0""".stripMargin

  /** CTE chain bit-replaying [[Dedup.kmeansCentroids]] over a `cand`
    * CTE (vec_id, embedding): systematic 1/20 sample, hash-ranked init
    * of greatest(8, ceil(n/500)) centroids, `iters` fixed
    * assign+mean rounds. Means fold in DOUBLE over members in id order
    * then round once to FLOAT — the exact arithmetic of the Spark side.
    * Final centroid table is the CTE named `cents`. */
  private def kmeansSql(iters: Int = 2): String = {
    val pts =
      """pts AS (SELECT vec_id AS id, embedding AS v FROM cand
        |  WHERE vec_id % 20 = 0 AND embedding IS NOT NULL),
        |kk AS (SELECT greatest(8, CAST(ceil(count(*) / 500.0) AS BIGINT)) AS k
        |  FROM cand WHERE embedding IS NOT NULL),
        |cent0 AS (
        |  SELECT cell, centroid FROM (
        |    SELECT CAST(row_number() OVER (ORDER BY (id * 2654435761) % 1000003, id) - 1 AS BIGINT) AS cell,
        |      v AS centroid
        |    FROM pts) r CROSS JOIN kk WHERE r.cell < kk.k)""".stripMargin
    // a cell with empty sample membership keeps its previous centroid
    // (LEFT JOIN + coalesce), mirroring Dedup.kmeansCentroids — starved
    // cells must not shrink k
    val rounds = (1 to iters).map { i =>
      s"""asg$i AS (SELECT id, v, cell FROM (
         |  SELECT p.id, p.v, c.cell,
         |    row_number() OVER (PARTITION BY p.id
         |      ORDER BY ${cos("p.v", "c.centroid")} DESC, c.cell) AS rn
         |  FROM pts p CROSS JOIN cent${i - 1} c) WHERE rn = 1),
         |new$i AS (
         |  SELECT cell, list_transform(range(64), j ->
         |    CAST(list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
         |      list_transform(vs, e -> CAST(e[j+1] AS DOUBLE))), (a, b) -> a + b)
         |      / CAST(len(vs) AS DOUBLE) AS FLOAT)) AS centroid
         |  FROM (SELECT cell, array_agg(v ORDER BY id) AS vs FROM asg$i GROUP BY cell) g),
         |cent$i AS (
         |  SELECT p.cell, coalesce(n.centroid, p.centroid) AS centroid
         |  FROM cent${i - 1} p LEFT JOIN new$i n ON p.cell = n.cell)""".stripMargin
    }.mkString(",\n")
    s"$pts,\n$rounds,\ncents AS (SELECT cell, centroid FROM cent$iters)"
  }

  /** CTE chain bit-replaying [[Dedup.splitOvergrownCells]] over an `asg`
    * CTE (id, v, cell) with one Lloyd round (= the query's splitIters):
    * cells over `splitOver` members get ceil(members/target) hash-ranked
    * member pivots; the sub-clustering runs on MEAN-CENTERED residuals
    * (per-cell DOUBLE fold in id order rounded once to FLOAT, residual
    * = elementwise FLOAT v − μ) with all-zero residuals/pivots pinned
    * to similarity −2.0 (never NaN ordering); one assign+mean round
    * (same cosine argmax / smallest-sub tie-break / ordered-double-fold
    * mean as the outer k-means, over residuals), then a final
    * re-assignment; untouched cells pass through with sub 0. Final
    * table is the CTE `splitasg` (id, v, cell) with
    * cell = parent·2²⁰ + sub. */
  private def cellSplitSql(splitOver: Long, target: Long): String = {
    val rsim = s"""CASE WHEN m.rz OR len(list_filter(c.centroid, x -> x <> 0)) = 0
       THEN -2.0 ELSE ${cos("m.rv", "c.centroid")} END"""
    s"""scnt AS (SELECT cell, count(*) AS c FROM asg GROUP BY cell),
       |sov AS (SELECT cell, CAST(ceil(c / $target.0) AS BIGINT) AS kc
       |  FROM scnt WHERE c > $splitOver),
       |som AS (SELECT a.id, a.v, a.cell, o.kc
       |  FROM asg a JOIN sov o ON a.cell = o.cell),
       |smu AS (
       |  SELECT cell, list_transform(range(64), j ->
       |    CAST(list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
       |      list_transform(vs, e -> CAST(e[j+1] AS DOUBLE))), (a, b) -> a + b)
       |      / CAST(len(vs) AS DOUBLE) AS FLOAT)) AS mu
       |  FROM (SELECT cell, array_agg(v ORDER BY id) AS vs
       |        FROM som GROUP BY cell) g),
       |smr AS (SELECT m.id, m.v, m.cell, m.kc,
       |    list_transform(range(64), j -> CAST(m.v[j+1] - u.mu[j+1] AS FLOAT)) AS rv
       |  FROM som m JOIN smu u ON m.cell = u.cell),
       |smz AS (SELECT *, len(list_filter(rv, x -> x <> 0)) = 0 AS rz FROM smr),
       |sc0 AS (SELECT cell, sub, centroid FROM (
       |  SELECT cell, kc, rv AS centroid,
       |    CAST(row_number() OVER (PARTITION BY cell
       |      ORDER BY (id * 2654435761) % 1000003, id) - 1 AS BIGINT) AS sub
       |  FROM smz) r WHERE r.sub < r.kc),
       |sasg1 AS (SELECT cell, id, v, rv, rz, sub FROM (
       |  SELECT m.cell, m.id, m.v, m.rv, m.rz, c.sub,
       |    row_number() OVER (PARTITION BY m.cell, m.id
       |      ORDER BY ($rsim) DESC, c.sub) AS rn
       |  FROM smz m JOIN sc0 c ON m.cell = c.cell) WHERE rn = 1),
       |snew1 AS (
       |  SELECT cell, sub, list_transform(range(64), j ->
       |    CAST(list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
       |      list_transform(vs, e -> CAST(e[j+1] AS DOUBLE))), (a, b) -> a + b)
       |      / CAST(len(vs) AS DOUBLE) AS FLOAT)) AS centroid
       |  FROM (SELECT cell, sub, array_agg(rv ORDER BY id) AS vs
       |        FROM sasg1 GROUP BY cell, sub) g),
       |sc1 AS (SELECT p.cell, p.sub, coalesce(n.centroid, p.centroid) AS centroid
       |  FROM sc0 p LEFT JOIN snew1 n ON p.cell = n.cell AND p.sub = n.sub),
       |sfin AS (SELECT cell, id, v, sub FROM (
       |  SELECT m.cell, m.id, m.v, c.sub,
       |    row_number() OVER (PARTITION BY m.cell, m.id
       |      ORDER BY ($rsim) DESC, c.sub) AS rn
       |  FROM smz m JOIN sc1 c ON m.cell = c.cell) WHERE rn = 1),
       |splitasg AS (
       |  SELECT id, v, cell * 1048576 AS cell FROM asg
       |  WHERE cell NOT IN (SELECT cell FROM sov)
       |  UNION ALL
       |  SELECT id, v, cell * 1048576 + sub AS cell FROM sfin)""".stripMargin
  }

  def oracles: Map[String, String] = Map(
    "x1_tokens" ->
      s"""SELECT doc_id,
         |  CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
         |  CAST(len(regexp_extract_all(text, '[a-z]+|[0-9]+|[^a-z0-9 ]')) AS BIGINT) AS n_bpeish,
         |  CAST(CAST(list_sum(list_transform(string_split(text, ' '), t -> length(t))) AS BIGINT) AS DOUBLE)
         |    / CAST(len(string_split(text, ' ')) AS DOUBLE) AS mean_token_len
         |FROM documents""".stripMargin,

    "x2_quality" ->
      s"""WITH t AS (
         |  SELECT doc_id,
         |    CAST(len(string_split(text, ' ')) AS DOUBLE) AS n_tok,
         |    CAST(CAST(list_sum(list_transform(string_split(text, ' '), w -> length(w))) AS BIGINT) AS DOUBLE)
         |      / CAST(len(string_split(text, ' ')) AS DOUBLE) AS mtl,
         |    CAST(length(regexp_replace(text, '[^a-z ]', '', 'g')) AS DOUBLE)
         |      / CAST(length(text) AS DOUBLE) AS alpha_ratio,
         |    CAST(len(list_filter(string_split(text, ' '), w -> list_contains($enStops, w))) AS DOUBLE)
         |      / CAST(len(string_split(text, ' ')) AS DOUBLE) AS stopword_ratio
         |  FROM documents)
         |SELECT doc_id,
         |  least(n_tok / 50.0, 1.0) * 0.3
         |    + (CASE WHEN mtl BETWEEN 2.0 AND 12.0 THEN 1.0 ELSE 0.0 END) * 0.2
         |    + alpha_ratio * 0.3
         |    + least(stopword_ratio * 5.0, 1.0) * 0.2 AS quality,
         |  alpha_ratio, stopword_ratio
         |FROM t""".stripMargin,

    "x3_langid" -> {
      val hits = T.stopwords.map { case (l, ws) =>
        val arr = ws.map(w => s"'$w'").mkString("[", ",", "]")
        s"len(list_filter(string_split(text, ' '), w -> list_contains($arr, w))) AS h_$l"
      }.mkString(",\n    ")
      val langs = T.stopwords.map(_._1)
      val best = s"greatest(${langs.map("h_" + _).mkString(", ")})"
      val cases = langs.map(l => s"WHEN h_$l > 0 AND h_$l = $best THEN '$l'").mkString(" ")
      s"""WITH t AS (SELECT doc_id, lang,
         |    $hits
         |  FROM documents)
         |SELECT doc_id, lang, CASE $cases ELSE 'und' END AS lang_pred FROM t""".stripMargin
    },

    "x4_fingerprint" ->
      s"""SELECT doc_id, ${ph("text")} AS fp, ${simhash("text")} AS simhash
         |FROM documents""".stripMargin,

    "x5_repetition" ->
      s"""WITH t AS (SELECT doc_id, string_split(text, ' ') AS ts, ${bg2("text")} AS bg
         |  FROM documents)
         |SELECT doc_id,
         |  1.0 - CAST(len(list_distinct(ts)) AS DOUBLE) / CAST(len(ts) AS DOUBLE)
         |    AS dup_token_frac,
         |  CASE WHEN len(bg) = 0 THEN 0.0
         |    ELSE CAST(list_max(list_transform(list_distinct(bg),
         |      x -> len(list_filter(bg, y -> y = x)))) AS DOUBLE)
         |      / CAST(len(bg) AS DOUBLE) END AS top_bigram_frac
         |FROM t""".stripMargin,

    "x6_normalize" ->
      s"""WITH t AS (SELECT doc_id,
         |  trim(regexp_replace(regexp_replace(lower(text), '[^a-z0-9 ]', ' ', 'g'),
         |    ' +', ' ', 'g')) AS norm_text
         |  FROM documents)
         |SELECT doc_id, norm_text, ${ph("norm_text")} AS norm_fp FROM t""".stripMargin,

    "x8_pii" ->
      """WITH t AS (
        |  SELECT doc_id,
        |    CASE WHEN doc_id % 5 = 0
        |      THEN text || ' contact user' || doc_id || '@example.com now'
        |      ELSE text END AS text
        |  FROM documents)
        |SELECT doc_id,
        |  regexp_replace(text, '[a-z0-9._-]+@[a-z0-9.-]+', '<email>', 'g') AS redacted,
        |  CAST(len(regexp_extract_all(text, '[a-z0-9._-]+@[a-z0-9.-]+')) AS BIGINT)
        |    AS n_emails
        |FROM t""".stripMargin,

    "x7_decontaminate" ->
      s"""WITH sh AS (SELECT doc_id, ${sh3("text")} AS shs FROM documents),
         |bench AS (SELECT DISTINCT unnest(shs) AS h FROM sh WHERE doc_id % 97 = 0),
         |train AS (SELECT doc_id, shs FROM sh WHERE doc_id % 97 <> 0),
         |ex AS (SELECT doc_id, unnest(shs) AS h FROM train),
         |ov AS (SELECT ex.doc_id, count(*) AS n_overlap
         |       FROM ex JOIN bench USING (h) GROUP BY ex.doc_id)
         |SELECT t.doc_id, CAST(len(t.shs) AS BIGINT) AS n_shingles,
         |  CAST(coalesce(o.n_overlap, 0) AS BIGINT) AS n_overlap,
         |  coalesce(o.n_overlap, 0) * 2 > len(t.shs) AS contaminated
         |FROM train t LEFT JOIN ov o USING (doc_id)""".stripMargin,

    "x18_novelty" ->
      s"""WITH corpus AS ($exactDupDocsSql),
         |sh AS (SELECT doc_id, ${sh3("text")} AS shs FROM corpus),
         |ex AS (SELECT doc_id, unnest(shs) AS h FROM sh),
         |own AS (SELECT h, min(doc_id) AS doc_id FROM ex GROUP BY 1),
         |nov AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_novel
         |  FROM own GROUP BY 1)
         |SELECT s.doc_id, CAST(len(s.shs) AS BIGINT) AS n_shingles,
         |  CAST(coalesce(n.n_novel, 0) AS BIGINT) AS n_novel,
         |  CASE WHEN len(s.shs) = 0 THEN 0.0
         |    ELSE CAST(coalesce(n.n_novel, 0) AS DOUBLE)
         |      / CAST(len(s.shs) AS DOUBLE) END AS novelty
         |FROM sh s LEFT JOIN nov n USING (doc_id)""".stripMargin,

    "x17_fuzzy_decontaminate" ->
      s"""WITH bench AS ($fuzzyBenchSql),
         |${bandSql("b", "bench", "bid")},
         |${bandSql("t", "documents", "doc_id")},
         |pairs AS (SELECT DISTINCT t.doc_id, b.bid, ${jac("t.shs", "b.shs")} AS j
         |  FROM tband t JOIN bband b ON t.band = b.band AND t.band_key = b.band_key),
         |hits AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_bench_matches,
         |    max(j) AS max_jaccard
         |  FROM pairs WHERE j >= 0.5 GROUP BY 1)
         |SELECT d.doc_id, CAST(coalesce(h.n_bench_matches, 0) AS BIGINT) AS n_bench_matches,
         |  coalesce(h.max_jaccard, 0.0) AS max_jaccard,
         |  coalesce(h.n_bench_matches, 0) > 0 AS contaminated
         |FROM documents d LEFT JOIN hits h USING (doc_id)""".stripMargin,

    "x9_heavy_hitters" ->
      """WITH tok AS (
        |  SELECT doc_id, unnest(string_split(text, ' ')) AS token FROM documents)
        |SELECT token, CAST(count(*) AS BIGINT) AS n_occurrences,
        |  CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs
        |FROM tok GROUP BY token
        |ORDER BY n_occurrences DESC, token LIMIT 50""".stripMargin,

    "x11_unigram_logprob" ->
      """WITH tok AS (
        |  SELECT doc_id, unnest(string_split(text, ' ')) AS token FROM documents),
        |freq AS (SELECT token, count(*) AS c FROM tok GROUP BY token),
        |tot AS (SELECT sum(c) AS t FROM freq)
        |SELECT doc_id,
        |  avg(ln(CAST(c AS DOUBLE) / CAST(t AS DOUBLE))) AS avg_logprob,
        |  CAST(count(*) AS BIGINT) AS n_tokens
        |FROM tok JOIN freq USING (token) CROSS JOIN tot
        |GROUP BY doc_id""".stripMargin,

    "x12_tfidf_topterms" ->
      """WITH tok AS (
        |  SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents),
        |tf AS (SELECT doc_id, term, CAST(count(*) AS BIGINT) AS tf
        |       FROM tok GROUP BY 1, 2),
        |df AS (SELECT term, CAST(count(DISTINCT doc_id) AS BIGINT) AS df
        |       FROM tok GROUP BY 1),
        |n AS (SELECT count(*) AS n_docs FROM documents),
        |sc AS (SELECT doc_id, term, tf, df,
        |         tf * ln(CAST(n_docs AS DOUBLE) / CAST(df AS DOUBLE)) AS tfidf,
        |         row_number() OVER (PARTITION BY doc_id
        |           ORDER BY tf * ln(CAST(n_docs AS DOUBLE) / CAST(df AS DOUBLE))
        |             DESC, term) AS rn
        |       FROM tf JOIN df USING (term) CROSS JOIN n)
        |SELECT doc_id, term, tf, df, tfidf FROM sc WHERE rn <= 3""".stripMargin,

    "x13_bm25" ->
      s"""WITH q AS (SELECT unnest(['spark', 'join', 'window']) AS term),
         |dl AS (SELECT doc_id, CAST(len(string_split(text, ' ')) AS BIGINT) AS dl
         |       FROM documents),
         |stats AS (SELECT count(*) AS n,
         |            CAST(sum(dl) AS DOUBLE) / CAST(count(*) AS DOUBLE) AS avgdl
         |          FROM dl),
         |qtf AS (SELECT doc_id, term, CAST(count(*) AS BIGINT) AS tf
         |        FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS term
         |              FROM documents) t JOIN q USING (term)
         |        GROUP BY 1, 2),
         |df AS (SELECT term, CAST(count(DISTINCT doc_id) AS BIGINT) AS df
         |       FROM qtf GROUP BY 1),
         |contrib AS (SELECT doc_id, term,
         |  ln((n - df + 0.5) / (df + 0.5) + 1.0)
         |    * (tf * ($bm25K1 + 1.0)) / (tf + ($bm25K1 * ((1.0 - $bm25B) + $bm25B * dl / avgdl))) AS contrib
         |  FROM qtf JOIN df USING (term) JOIN dl USING (doc_id) CROSS JOIN stats)
         |SELECT doc_id,
         |  list_reduce(array_agg(contrib ORDER BY term), (a, b) -> a + b) AS bm25,
         |  CAST(count(*) AS BIGINT) AS n_terms_matched
         |FROM contrib GROUP BY doc_id""".stripMargin,

    "x10_bloom_decontaminate" ->
      s"""WITH sh AS (SELECT doc_id, ${sh3("text")} AS shs FROM documents),
         |bench AS (SELECT DISTINCT unnest(shs) AS h FROM sh WHERE doc_id % 97 = 0),
         |train AS (SELECT doc_id, shs FROM sh WHERE doc_id % 97 <> 0),
         |ex AS (SELECT doc_id, unnest(shs) AS h FROM train),
         |dirty AS (SELECT DISTINCT ex.doc_id FROM ex JOIN bench USING (h))
         |SELECT doc_id FROM train
         |WHERE doc_id NOT IN (SELECT doc_id FROM dirty)""".stripMargin,

    "pl1_pipeline" ->
      s"""WITH norm AS (
         |  SELECT doc_id, lang,
         |    trim(regexp_replace(regexp_replace(lower(text), '[^a-z0-9 ]', ' ', 'g'),
         |      ' +', ' ', 'g')) AS nt
         |  FROM documents),
         |filt AS (SELECT * FROM norm WHERE len(string_split(nt, ' ')) >= 5),
         |keep AS (SELECT min(doc_id) AS doc_id FROM filt GROUP BY nt),
         |ded AS (SELECT f.* FROM filt f JOIN keep USING (doc_id)),
         |sh AS (SELECT doc_id, lang, nt, ${sh3("nt")} AS shs FROM ded),
         |bench AS (SELECT DISTINCT unnest(shs) AS h FROM sh WHERE doc_id % 97 = 0),
         |train AS (SELECT * FROM sh WHERE doc_id % 97 <> 0),
         |ex AS (SELECT doc_id, unnest(shs) AS h FROM train),
         |ov AS (SELECT ex.doc_id, count(*) AS n_overlap
         |       FROM ex JOIN bench USING (h) GROUP BY ex.doc_id),
         |clean AS (
         |  SELECT t.doc_id, t.lang, t.nt FROM train t LEFT JOIN ov o USING (doc_id)
         |  WHERE NOT (coalesce(o.n_overlap, 0) * 2 > len(t.shs))),
         |asg AS (SELECT lang,
         |  CASE WHEN ${ph("nt")} % 100 < 80 THEN 'train'
         |       WHEN ${ph("nt")} % 100 < 90 THEN 'val'
         |       ELSE 'test' END AS split FROM clean)
         |SELECT lang, split, count(*) AS n_docs FROM asg GROUP BY 1, 2""".stripMargin,

    "pl2_cluster_keep" ->
      s"""$ccLabSql
         |SELECT c.doc_id,
         |  CAST(coalesce(l.cluster_id, c.doc_id) AS BIGINT) AS cluster_id,
         |  coalesce(l.cluster_id, c.doc_id) = c.doc_id AS kept
         |FROM corpus c LEFT JOIN lab l ON c.doc_id = l.doc_id""".stripMargin,

    "sp3_cluster_split" ->
      s"""$ccLabSql,
         |asg AS (SELECT c.doc_id,
         |    CAST(coalesce(l.cluster_id, c.doc_id) AS BIGINT) AS cluster_id
         |  FROM corpus c LEFT JOIN lab l ON c.doc_id = l.doc_id)
         |SELECT doc_id, cluster_id,
         |  CASE WHEN ${ph("'c#' || CAST(cluster_id AS VARCHAR)")} % 100 < 80 THEN 'train'
         |       WHEN ${ph("'c#' || CAST(cluster_id AS VARCHAR)")} % 100 < 90 THEN 'val'
         |       ELSE 'test' END AS split
         |FROM asg""".stripMargin,

    "pl3_curation" ->
      s"""WITH gop AS (
         |$x15Sql
         |),
         |kept AS (SELECT d.doc_id, d.lang, d.text FROM documents d
         |  JOIN gop ON d.doc_id = gop.doc_id WHERE gop.keep),
         |c AS (SELECT lang, count(*) AS n FROM kept
         |  WHERE lang IS NOT NULL GROUP BY 1),
         |m AS (SELECT min(n) AS nmin FROM c),
         |r AS (SELECT lang,
         |    CAST(floor(sqrt(CAST(nmin AS DOUBLE) / CAST(n AS DOUBLE)) * 1e6) AS BIGINT)
         |      AS rate_ppm
         |  FROM c CROSS JOIN m),
         |sampled AS (SELECT k.doc_id, k.lang, k.text, r.rate_ppm
         |  FROM kept k JOIN r USING (lang)
         |  WHERE ${ph("k.text || '#temp'")} % 1000000 < r.rate_ppm),
         |bench AS ($fuzzyBenchSql),
         |${bandSql("b", "bench", "bid")},
         |${bandSql("t", "sampled", "doc_id")},
         |pairs AS (SELECT DISTINCT t.doc_id, b.bid, ${jac("t.shs", "b.shs")} AS j
         |  FROM tband t JOIN bband b ON t.band = b.band AND t.band_key = b.band_key),
         |hits AS (SELECT doc_id FROM pairs WHERE j >= 0.5 GROUP BY 1)
         |SELECT s.doc_id, s.lang, s.rate_ppm
         |FROM sampled s LEFT JOIN hits h USING (doc_id)
         |WHERE h.doc_id IS NULL""".stripMargin,

    "sp1_split" ->
      s"""WITH t AS (SELECT doc_id, ${ph("text")} % 100 AS h100,
         |  ${ph("text")} % 16 AS shard FROM documents)
         |SELECT doc_id,
         |  CASE WHEN h100 < 80 THEN 'train' WHEN h100 < 90 THEN 'val'
         |    ELSE 'test' END AS split,
         |  shard
         |FROM t""".stripMargin,

    "sp2_sample" ->
      s"""SELECT doc_id, lang, sample_rank FROM (
         |  SELECT doc_id, lang, CAST(row_number() OVER (PARTITION BY lang
         |    ORDER BY ${ph("text")}, doc_id) AS BIGINT) AS sample_rank
         |  FROM documents) WHERE sample_rank <= 25""".stripMargin,

    "ck1_chunk_overlap" ->
      """SELECT doc_id, CAST(i AS BIGINT) AS chunk_id,
        |  substring(text, CAST(i*150 + 1 AS INT), 200) AS chunk,
        |  CAST(length(substring(text, CAST(i*150 + 1 AS INT), 200)) AS BIGINT) AS n_chars
        |FROM (SELECT doc_id, text, unnest(range((length(text) + 149) // 150)) AS i
        |      FROM documents WHERE length(text) > 0)""".stripMargin,

    // The packing restated as the naive explode + group-by; the
    // segmentation replays the closed-form cycling length pattern
    // (off(i) = 39*(i div 6) + pref[i mod 6], lens cycling 5,9,7,3,11,4).
    "ck2_sentence_pack" ->
      s"""WITH ${sentencePackSql("documents", 24)}
         |SELECT doc_id, chunk_id, chunk, n_tokens, n_sentences
         |FROM ck2chunks""".stripMargin,

    // ck2's chunks over the near-dup corpus, first occurrence per
    // distinct chunk text, content-hash shard — the oracle dedups on
    // the RAW text; the 16-byte-key plan must reproduce it.
    "pl4_rag_ingest" ->
      s"""WITH src AS ($nearDupDocsSql),
         |${sentencePackSql("src", 24)},
         |kept AS (SELECT doc_id, chunk_id, chunk, n_tokens,
         |  row_number() OVER (PARTITION BY chunk ORDER BY doc_id, chunk_id) AS rn
         |  FROM ck2chunks)
         |SELECT doc_id, chunk_id, n_tokens, ${ph("chunk")} % 8 AS shard
         |FROM kept WHERE rn = 1""".stripMargin,

    "pk1_token_shards" ->
      """WITH t AS (SELECT doc_id,
        |  CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens FROM documents)
        |SELECT doc_id, n_tokens,
        |  CAST((sum(n_tokens) OVER (ORDER BY doc_id
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - n_tokens) // 2048
        |    AS BIGINT) AS shard
        |FROM t""".stripMargin,

    "pk3_sequence_cuts" ->
      """WITH t AS (SELECT doc_id,
        |  CAST(len(string_split(text, ' ')) AS BIGINT) AS n FROM documents),
        |o AS (SELECT doc_id, n,
        |  CAST(sum(n) OVER (ORDER BY doc_id
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - n AS BIGINT) AS off
        |  FROM t)
        |SELECT doc_id, CAST(s AS BIGINT) AS seq_id,
        |  CAST(greatest(0, s*512 - off) + 1 AS BIGINT) AS tok_start,
        |  CAST(least(n - 1, (s+1)*512 - 1 - off) + 1 AS BIGINT) AS tok_end,
        |  CAST(least(n - 1, (s+1)*512 - 1 - off)
        |    - greatest(0, s*512 - off) + 1 AS BIGINT) AS n_seq_tokens
        |FROM o, UNNEST(range(off // 512, (off + n - 1) // 512 + 1)) AS u(s)
        |WHERE n > 0""".stripMargin,

    "pk2_shuffle_shards" ->
      s"""WITH t AS (SELECT doc_id, ${ph("text || '#shuffle'")} AS h FROM documents)
         |SELECT doc_id, h % 16 AS shard,
         |  CAST(row_number() OVER (PARTITION BY h % 16
         |    ORDER BY h, doc_id) AS BIGINT) AS pos_in_shard
         |FROM t""".stripMargin,

    "mx1_mixture_sample" ->
      s"""SELECT doc_id, lang FROM (
         |  SELECT doc_id, lang, ${ph("text || '#mix'")} % 100 AS h
         |  FROM documents)
         |WHERE h < CASE lang WHEN 'en' THEN 90 WHEN 'zh' THEN 30
         |  WHEN 'de' THEN 60 ELSE 50 END""".stripMargin,

    "mx2_dsir_weights" ->
      s"""WITH tok AS (
         |  SELECT doc_id, source, unnest(string_split(text, ' ')) AS token
         |  FROM documents WHERE text IS NOT NULL),
         |tb AS (SELECT doc_id, source, ${ph("token")} % 256 AS bucket FROM tok),
         |cr AS (SELECT bucket, count(*) AS cr FROM tb GROUP BY 1),
         |ct AS (SELECT bucket, count(*) AS ct FROM tb WHERE source = 'src0' GROUP BY 1),
         |tr AS (SELECT sum(cr) AS tr FROM cr),
         |tt AS (SELECT sum(ct) AS tt FROM ct),
         |model AS (SELECT bucket,
         |    CAST(floor((
         |      ln(CAST(coalesce(ct, 0) + 1 AS DOUBLE) / CAST(coalesce(tt, 0) + 256 AS DOUBLE))
         |      - ln(CAST(cr + 1 AS DOUBLE) / CAST(tr + 256 AS DOUBLE))) * 1e6) AS BIGINT) AS lr
         |  FROM cr LEFT JOIN ct USING (bucket) CROSS JOIN tr CROSS JOIN tt)
         |SELECT doc_id, CAST(sum(lr) AS BIGINT) AS logw_micro,
         |  CAST(count(*) AS BIGINT) AS n_tokens, sum(lr) > 0 AS target_like
         |FROM tb JOIN model USING (bucket) GROUP BY doc_id""".stripMargin,

    "x16_bigram_logprob" -> {
      // single-sourced with hashedBigramLogProb(lambdaPct = 70): the
      // unigram weight is the Scala-computed 1.0 - 0.7 interpolated at
      // full precision (0.30000000000000004 — writing 0.3 would be a
      // DIFFERENT double and shift micro-nat floors)
      val lam = 70 / 100.0
      val wU = 1.0 - lam
      s"""WITH tok AS (SELECT doc_id, source, string_split(text, ' ') AS ts
         |  FROM documents WHERE text IS NOT NULL),
         |bg AS (SELECT doc_id, source,
         |    unnest(list_transform(range(1, greatest(len(ts) - 1, 0) + 1),
         |      i -> [${ph("ts[i] || ' ' || ts[i+1]")} % 4096,
         |            ${ph("ts[i+1]")} % 256])) AS p
         |  FROM tok),
         |s AS (SELECT doc_id, source, p[1] AS bb, p[2] AS ub FROM bg),
         |cb AS (SELECT bb, count(*) AS c FROM s WHERE source = 'src0' GROUP BY 1),
         |cu AS (SELECT ub, count(*) AS c FROM s WHERE source = 'src0' GROUP BY 1),
         |mt AS (SELECT count(*) AS t FROM s WHERE source = 'src0'),
         |bi AS (SELECT bb,
         |    CAST(floor($lam * ln(CAST(coalesce(c, 0) + 1 AS DOUBLE)
         |      / CAST(t + 4096 AS DOUBLE)) * 1e6) AS BIGINT) AS lrb
         |  FROM range(4096) AS r(bb) LEFT JOIN cb USING (bb) CROSS JOIN mt),
         |uni AS (SELECT ub,
         |    CAST(floor($wU * ln(CAST(coalesce(c, 0) + 1 AS DOUBLE)
         |      / CAST(t + 256 AS DOUBLE)) * 1e6) AS BIGINT) AS lru
         |  FROM range(256) AS r(ub) LEFT JOIN cu USING (ub) CROSS JOIN mt)
         |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_bigrams,
         |  CAST(sum(lrb + lru) AS BIGINT) AS logp_micro,
         |  CAST(CAST(sum(lrb + lru) AS BIGINT) AS DOUBLE)
         |    / CAST(count(*) AS DOUBLE) AS avg_logp_micro
         |FROM s JOIN bi USING (bb) JOIN uni USING (ub)
         |GROUP BY doc_id""".stripMargin
    },

    "mx3_temperature_mixture" ->
      s"""WITH c AS (SELECT lang, count(*) AS n FROM documents
         |  WHERE lang IS NOT NULL GROUP BY 1),
         |m AS (SELECT min(n) AS nmin FROM c),
         |r AS (SELECT lang,
         |    CAST(floor(sqrt(CAST(nmin AS DOUBLE) / CAST(n AS DOUBLE)) * 1e6) AS BIGINT)
         |      AS rate_ppm
         |  FROM c CROSS JOIN m)
         |SELECT doc_id, lang, rate_ppm
         |FROM documents JOIN r USING (lang)
         |WHERE ${ph("text || '#temp'")} % 1000000 < rate_ppm""".stripMargin,

    // Integer split-form arithmetic replayed exactly (T = 200000 ⇒
    // tq = 0, tr = 200000; target = (w_ppm·tr) // 10⁶).
    "mx4_token_budget" ->
      s"""WITH counts AS (SELECT lang AS domain,
        |    CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS n_tokens
        |  FROM documents GROUP BY lang HAVING sum(len(string_split(text, ' '))) > 0),
        |w(domain, w_ppm) AS (VALUES
        |  ${mx4Weights.toSeq.sorted.map { case (d, w) =>
             s"('$d', CAST($w AS BIGINT))" }.mkString(", ")}),
        |j AS (SELECT domain, n_tokens, w_ppm,
        |    CAST(w_ppm * ${mx4Budget / 1000000L}
        |      + (w_ppm * ${mx4Budget % 1000000L}) // 1000000 AS BIGINT) AS target_tokens
        |  FROM counts JOIN w USING (domain)),
        |a AS (SELECT domain, n_tokens, w_ppm, target_tokens,
        |    least(target_tokens, n_tokens * $mx4MaxEpochs) AS alloc_tokens
        |  FROM j)
        |SELECT domain, n_tokens, w_ppm, target_tokens, alloc_tokens,
        |  target_tokens - alloc_tokens AS deficit_tokens,
        |  CAST((alloc_tokens // n_tokens) * 1000
        |    + (alloc_tokens % n_tokens) * 1000 // n_tokens AS BIGINT) AS epochs_milli
        |FROM a""".stripMargin,

    "x14_quantile_filter" ->
      s"""WITH t AS (
         |  SELECT doc_id, lang,
         |    CAST(len(string_split(text, ' ')) AS DOUBLE) AS n_tok,
         |    CAST(CAST(list_sum(list_transform(string_split(text, ' '), w -> length(w))) AS BIGINT) AS DOUBLE)
         |      / CAST(len(string_split(text, ' ')) AS DOUBLE) AS mtl,
         |    CAST(length(regexp_replace(text, '[^a-z ]', '', 'g')) AS DOUBLE)
         |      / CAST(length(text) AS DOUBLE) AS alpha_ratio,
         |    CAST(len(list_filter(string_split(text, ' '), w -> list_contains($enStops, w))) AS DOUBLE)
         |      / CAST(len(string_split(text, ' ')) AS DOUBLE) AS stopword_ratio
         |  FROM documents),
         |q AS (SELECT doc_id, lang,
         |  least(n_tok / 50.0, 1.0) * 0.3
         |    + (CASE WHEN mtl BETWEEN 2.0 AND 12.0 THEN 1.0 ELSE 0.0 END) * 0.2
         |    + alpha_ratio * 0.3
         |    + least(stopword_ratio * 5.0, 1.0) * 0.2 AS quality
         |  FROM t),
         |r AS (SELECT doc_id, lang, quality,
         |  CAST(row_number() OVER (PARTITION BY lang
         |    ORDER BY quality DESC, doc_id) AS BIGINT) AS stratum_rank,
         |  count(*) OVER (PARTITION BY lang) AS n
         |  FROM q)
         |SELECT doc_id, lang, quality, stratum_rank,
         |  CASE WHEN stratum_rank * 3 <= n THEN 'head'
         |       WHEN stratum_rank * 3 <= n * 2 THEN 'middle'
         |       ELSE 'tail' END AS bucket
         |FROM r""".stripMargin,

    "x15_gopher_rules" -> x15Sql,

    "dd9_semantic_dedup" ->
      s"""WITH cand AS ($nearDupEmbSql),
         |${kmeansSql(iters = 2)},
         |asg AS (SELECT id, v, cell FROM (
         |  SELECT e.vec_id AS id, e.embedding AS v, c.cell,
         |    row_number() OVER (PARTITION BY e.vec_id
         |      ORDER BY ${cos("e.embedding", "c.centroid")} DESC, c.cell) AS rn
         |  FROM cand e CROSS JOIN cents c) WHERE rn = 1),
         |${cellSplitSql(dd9SplitOver, dd9SplitTarget)},
         |pairs AS (
         |  SELECT l.id AS id_a, r.id AS id_b, ${cos("l.v", "r.v")} AS cosine
         |  FROM splitasg l JOIN splitasg r ON l.cell = r.cell AND l.id < r.id
         |  WHERE ${cos("l.v", "r.v")} >= 0.95)
         |SELECT id_b AS vec_id, CAST(min(id_a) AS BIGINT) AS keeper_id,
         |  CAST(count(*) AS BIGINT) AS n_better, max(cosine) AS max_cosine
         |FROM pairs GROUP BY id_b""".stripMargin,

    "dd1_exact_dedup" ->
      s"""SELECT min(doc_id) AS keeper_id, count(*) AS n_copies
         |FROM ($exactDupDocsSql) GROUP BY text""".stripMargin,

    "dd2_minhash_lsh" -> dd2Sql,

    "dd8_passage_dedup" ->
      s"""WITH cand AS ($exactDupDocsSql),
         |toks AS (SELECT doc_id, string_split(text, ' ') AS tk FROM cand),
         |pas AS (SELECT doc_id, unnest(list_transform(range(len(tk) // 10),
         |  i -> array_to_string(list_slice(tk, i*10 + 1, i*10 + 10), ' '))) AS passage
         |  FROM toks)
         |SELECT min(doc_id) AS keeper_id, CAST(count(*) AS BIGINT) AS n_copies
         |FROM pas GROUP BY passage HAVING count(*) >= 2""".stripMargin,

    "dd10_passage_overlap" ->
      s"""WITH cand AS ($exactDupDocsSql),
         |toks AS (SELECT doc_id, string_split(text, ' ') AS tk FROM cand),
         |pas AS (SELECT doc_id, unnest(list_transform(range(1 + (len(tk) - 10) // 5),
         |  i -> array_to_string(list_slice(tk, i*5 + 1, i*5 + 10), ' '))) AS passage
         |  FROM toks WHERE len(tk) >= 10)
         |SELECT min(doc_id) AS keeper_id, CAST(count(*) AS BIGINT) AS n_copies
         |FROM pas GROUP BY passage HAVING count(*) >= 2""".stripMargin,

    "dd6_dedup_clusters" ->
      s"""WITH RECURSIVE p AS (
         |$dd2Sql
         |),
         |edges AS (SELECT doc_a AS a, doc_b AS b FROM p
         |          UNION SELECT doc_b, doc_a FROM p),
         |reach(n, m) AS (
         |  SELECT a, a FROM edges
         |  UNION
         |  SELECT e.a, r.m FROM reach r JOIN edges e ON e.b = r.n)
         |SELECT n AS doc_id, CAST(min(m) AS BIGINT) AS cluster_id
         |FROM reach GROUP BY n""".stripMargin,

    "dd3_simhash" ->
      s"""WITH cand AS ($exactDupDocsSql),
         |sig AS (SELECT doc_id AS id, ${simhash("text")} AS sig FROM cand),
         |chunked AS (
         |  SELECT id, sig, t.c AS chunk,
         |    (sig // (CAST(1 AS BIGINT) << (CAST(t.c AS INT) * 16))) & 65535 AS chunk_key
         |  FROM sig CROSS JOIN range(4) AS t(c)),
         |pairs AS (
         |  SELECT DISTINCT l.id AS doc_a, r.id AS doc_b,
         |    CAST(bit_count(xor(l.sig, r.sig)) AS BIGINT) AS hamming
         |  FROM chunked l JOIN chunked r
         |    ON l.chunk = r.chunk AND l.chunk_key = r.chunk_key AND l.id < r.id)
         |SELECT doc_a, doc_b, hamming FROM pairs WHERE hamming <= 3""".stripMargin,

    // dd15: NativeText.aHash61 replayed byte-for-byte over hex(blob)
    // (pure integer pooling), then the UNFILTERED n² verify — a hash
    // match proves the banded operator result IS the brute force (the
    // dd11 oracle discipline; the banding is pigeonhole-lossless).
    "dd15_phash_neardup" ->
      s"""WITH cand AS (
         |  SELECT doc_id, text FROM documents
         |  UNION ALL
         |  SELECT doc_id + 2000000, upper(substr(text, 1, 1)) || substr(text, 2)
         |  FROM documents WHERE doc_id % 16 = 0),
         |hx0 AS (SELECT doc_id AS id, hex(CAST(text AS BLOB)) AS hx
         |  FROM cand WHERE text IS NOT NULL),
         |bs0 AS (
         |  SELECT id, len(hx)//2 AS n,
         |    list_transform(range(len(hx)//2), i ->
         |      (strpos('0123456789ABCDEF', substr(hx, CAST(2*i+1 AS INT), 1)) - 1) * 16
         |      + strpos('0123456789ABCDEF', substr(hx, CAST(2*i+2 AS INT), 1)) - 1) AS bs
         |  FROM hx0),
         |cl AS (
         |  SELECT id, list_transform(range(61), j ->
         |      CASE WHEN ((j+1)*n)//61 > (j*n)//61
         |        THEN list_sum(bs[CAST((j*n)//61 AS INT)+1 : CAST(((j+1)*n)//61 AS INT)])
         |             // (((j+1)*n)//61 - (j*n)//61)
         |        ELSE 0 END) AS cells
         |  FROM bs0),
         |sig AS (
         |  SELECT id, CAST(list_sum(list_transform(range(61), j ->
         |      CASE WHEN cells[CAST(j AS INT)+1] > list_sum(cells) // 61
         |        THEN CAST(1 AS BIGINT) << CAST(j AS INT)
         |        ELSE CAST(0 AS BIGINT) END)) AS BIGINT) AS sig
         |  FROM cl)
         |SELECT l.id AS doc_a, r.id AS doc_b,
         |  CAST(bit_count(xor(l.sig, r.sig)) AS BIGINT) AS hamming
         |FROM sig l JOIN sig r ON l.id < r.id
         |WHERE bit_count(xor(l.sig, r.sig)) <= 3""".stripMargin,

    "dd4_ngram_jaccard" ->
      s"""WITH sh AS (SELECT lang, source, length(text) // 64 AS len_band,
         |  doc_id AS id, ${sh3("text")} AS shs FROM documents)
         |SELECT l.lang, l.source, l.len_band, l.id AS doc_a, r.id AS doc_b,
         |  ${jac("l.shs", "r.shs")} AS jaccard
         |FROM sh l JOIN sh r
         |  ON l.lang = r.lang AND l.source = r.source
         |  AND l.len_band = r.len_band AND l.id < r.id
         |WHERE ${jac("l.shs", "r.shs")} >= 0.01""".stripMargin,

    // Deliberately the UNFILTERED n² form: dd11's prefix filter is
    // claimed lossless, so the oracle must not replay the filter — a
    // hash match here proves the filtered result IS the brute force.
    "dd11_jaccard_prefix" ->
      s"""WITH cand AS ($nearDupDocsSql),
         |sh AS (SELECT doc_id AS id, ${sh3("text")} AS shs FROM cand
         |  WHERE text IS NOT NULL)
         |SELECT l.id AS doc_a, r.id AS doc_b, ${jac("l.shs", "r.shs")} AS jaccard
         |FROM sh l JOIN sh r ON l.id < r.id
         |WHERE ${jac("l.shs", "r.shs")} >= 0.7""".stripMargin,

    // The window-coverage definition over RAW k-gram text (no hashing):
    // duplicated-start positions are those whose 10-token window occurs
    // in ≥ 2 distinct docs; gaps-and-islands merges starts ≤ 10 apart
    // (contiguous coverage) into maximal spans. DuckDB list slicing is
    // 1-based end-INCLUSIVE, matching the operator's 1-based positions.
    "dd13_substring" ->
      s"""WITH src AS ($nearDupDocsSql),
         |tok AS (SELECT doc_id, string_split(text, ' ') AS ts FROM src
         |  WHERE text IS NOT NULL),
         |kg0 AS (SELECT doc_id, ts,
         |    unnest(range(1, len(ts) - 10 + 2)) AS pos
         |  FROM tok WHERE len(ts) >= 10),
         |kg AS (SELECT doc_id, CAST(pos AS BIGINT) AS pos,
         |    array_to_string(ts[pos:pos+9], ' ') AS g FROM kg0),
         |dup AS (SELECT doc_id, pos FROM kg WHERE g IN (
         |  SELECT g FROM kg GROUP BY g HAVING min(doc_id) <> max(doc_id))),
         |isl AS (SELECT doc_id, pos,
         |    CASE WHEN pos - lag(pos) OVER (PARTITION BY doc_id ORDER BY pos)
         |      > 10 THEN 1 ELSE 0 END AS brk
         |  FROM dup),
         |num AS (SELECT doc_id, pos,
         |    sum(brk) OVER (PARTITION BY doc_id ORDER BY pos
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
         |  FROM isl)
         |SELECT doc_id, min(pos) AS span_start,
         |  CAST(max(pos) + 9 AS BIGINT) AS span_end,
         |  CAST(max(pos) + 10 - min(pos) AS BIGINT) AS n_span_tokens
         |FROM num GROUP BY doc_id, sid""".stripMargin,

    // Raw-text anti join; the 16-byte-key plan must reproduce it.
    "dd12_incremental" ->
      """WITH newc AS (
        |  SELECT doc_id + 1000000 AS doc_id, text FROM documents WHERE doc_id % 10 = 0
        |  UNION ALL
        |  SELECT doc_id + 2000000 AS doc_id,
        |    array_to_string(list_slice(string_split(text, ' '), 1,
        |      greatest((len(string_split(text, ' ')) * 4) // 5, 1)), ' ') AS text
        |  FROM documents WHERE doc_id % 10 = 0)
        |SELECT n.doc_id, CAST(length(n.text) AS BIGINT) AS n_chars
        |FROM newc n WHERE NOT EXISTS (
        |  SELECT 1 FROM documents p WHERE p.text = n.text)""".stripMargin,

    // The fuzzy ingest gate replayed: batch ∪ prior banded through the
    // shared MinHash CTE machinery, distinct candidate (bid, pid)
    // pairs, one exact-Jaccard verify per pair, best match by
    // (jaccard DESC, pid) — then every batch doc left-joins its match.
    "dd14_incremental_fuzzy" -> dd14Sql,

    // The streaming gate must agree with the batch gate verdict for
    // verdict — same oracle, literally.
    "w14_streaming_ingest_gate" -> dd14Sql,


    // The self-dedup fold restated as an indexed list_filter (DuckDB
    // lambda index i is 1-BASED where Spark's is 0-based — earlier
    // passages are list_slice(passages, 1, i - 1)).
    "x20_self_dedup" ->
      """WITH src AS (SELECT doc_id,
        |  CASE WHEN doc_id % 5 = 0 THEN array_to_string(
        |    list_concat(list_slice(string_split(text, ' '), 1, 20), string_split(text, ' ')), ' ')
        |  ELSE text END AS text
        |  FROM documents WHERE text IS NOT NULL),
        |t AS (SELECT doc_id, string_split(text, ' ') AS tk FROM src),
        |ps AS (SELECT doc_id, tk, list_transform(range(len(tk) // 10), i ->
        |    array_to_string(list_slice(tk, i*10 + 1, i*10 + 10), ' ')) AS passages FROM t),
        |kp AS (SELECT doc_id, tk, passages,
        |  list_filter(passages, (s, i) ->
        |    coalesce(list_position(list_slice(passages, 1, i - 1), s), 0) = 0) AS kept
        |  FROM ps),
        |fin AS (SELECT doc_id,
        |  CASE WHEN len(tk) > (len(tk) // 10) * 10
        |    THEN list_append(kept, array_to_string(list_slice(tk, (len(tk) // 10) * 10 + 1, len(tk)), ' '))
        |    ELSE kept END AS parts,
        |  CAST(len(kept) AS BIGINT) AS n_kept,
        |  CAST(len(passages) - len(kept) AS BIGINT) AS n_dropped
        |  FROM kp)
        |SELECT doc_id, array_to_string(parts, ' ') AS clean_text, n_kept, n_dropped
        |FROM fin""".stripMargin,

    "dd5_embedding_neardup" ->
      s"""WITH cand AS ($nearDupEmbSql),
         |sig AS (SELECT vec_id AS id, embedding AS v, ${bucket("embedding")} AS bucket FROM cand)
         |SELECT l.id AS id_a, r.id AS id_b, ${cos("l.v", "r.v")} AS cosine
         |FROM sig l JOIN sig r ON l.bucket = r.bucket AND l.id < r.id
         |WHERE ${cos("l.v", "r.v")} >= 0.95""".stripMargin,

    "dd7_embedding_multiprobe" ->
      s"""WITH cand AS ($nearDupEmbSql),
         |sig AS (SELECT vec_id AS id, embedding AS v, ${bucket("embedding")} AS bucket FROM cand)
         |SELECT l.id AS id_a, r.id AS id_b, ${cos("l.v", "r.v")} AS cosine
         |FROM sig l JOIN sig r
         |  ON bit_count(xor(l.bucket, r.bucket)) <= 1 AND l.id < r.id
         |WHERE ${cos("l.v", "r.v")} >= 0.95""".stripMargin,

    "sim4_topk_lsh_multiprobe" ->
      s"""WITH q AS (SELECT vec_id AS query_id, embedding AS qv,
         |    ${bucket("embedding")} AS bucket FROM embeddings WHERE vec_id < 20),
         |c AS (SELECT vec_id AS neighbor_id, embedding AS cv,
         |    ${bucket("embedding")} AS bucket FROM embeddings),
         |scored AS (
         |  SELECT query_id, neighbor_id, ${cos("qv", "cv")} AS cosine
         |  FROM q JOIN c ON bit_count(xor(q.bucket, c.bucket)) <= 1
         |  WHERE neighbor_id <> query_id)
         |SELECT query_id, neighbor_id, cosine, "rank" FROM (
         |  SELECT *, CAST(row_number() OVER (PARTITION BY query_id
         |    ORDER BY cosine DESC, neighbor_id) AS BIGINT) AS "rank"
         |  FROM scored) WHERE "rank" <= 5""".stripMargin,

    "sim6_hard_negatives" ->
      s"""WITH q AS (SELECT vec_id AS query_id, embedding AS qv, label AS ql
         |  FROM embeddings WHERE vec_id < 20),
         |scored AS (
         |  SELECT query_id, c.vec_id AS neighbor_id, ${cos("qv", "c.embedding")} AS cosine
         |  FROM q, embeddings c WHERE c.vec_id <> query_id AND c.label <> ql)
         |SELECT query_id, neighbor_id, cosine, "rank" FROM (
         |  SELECT *, CAST(row_number() OVER (PARTITION BY query_id
         |    ORDER BY cosine DESC, neighbor_id) AS BIGINT) AS "rank"
         |  FROM scored) WHERE "rank" <= 5""".stripMargin,

    // SQ8 replayed exactly: float→double widening and the ·127 product
    // are IEEE-identical cross-engine, floor+clamp land on the same
    // int8 codes, the scan score is pure integer math (list_sum's
    // HUGEINT cast back to BIGINT), and the re-rank is the shared
    // ordered cosine fold over the top-16 survivors.
    "sim7_topk_sq8" ->
      s"""WITH $sq8CodesCte,
         |cands AS (
         |  SELECT query_id, neighbor_id FROM (
         |    SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
         |      row_number() OVER (PARTITION BY q.vec_id ORDER BY
         |        CAST(list_sum(list_transform(range(64),
         |          i -> q.q8[i+1] * c.q8[i+1])) AS BIGINT) DESC,
         |        c.vec_id) AS rn
         |    FROM e8 q, e8 c WHERE q.vec_id < 20 AND c.vec_id <> q.vec_id)
         |  WHERE rn <= 16),
         |scored AS (
         |  SELECT query_id, neighbor_id, ${cos("q.embedding", "c.embedding")} AS cosine
         |  FROM cands
         |  JOIN embeddings q ON q.vec_id = query_id
         |  JOIN embeddings c ON c.vec_id = neighbor_id)
         |SELECT query_id, neighbor_id, cosine, "rank" FROM (
         |  SELECT *, CAST(row_number() OVER (PARTITION BY query_id
         |    ORDER BY cosine DESC, neighbor_id) AS BIGINT) AS "rank"
         |  -- NaN never ranks: Spark's rankTopK drops NaN cosines (the
         |  -- zero-norm rule); DuckDB would otherwise sort NaN first
         |  FROM scored WHERE NOT isnan(cosine)) WHERE "rank" <= 5""".stripMargin,

    // sim3's cell/probe replay + sim7's quantized scan + the shared
    // ordered cosine re-rank, composed.
    "sim8_topk_ivf_sq8" ->
      s"""WITH $sq8CodesCte,
         |cents AS (
         |  SELECT vec_id AS cell, embedding AS centroid
         |  FROM embeddings WHERE vec_id < 8 AND embedding IS NOT NULL),
         |cells AS (
         |  SELECT cell, neighbor_id, q8 FROM (
         |    SELECT c.cell, e.vec_id AS neighbor_id, e8.q8,
         |      row_number() OVER (PARTITION BY e.vec_id
         |        ORDER BY ${cos("e.embedding", "c.centroid")} DESC, c.cell) AS rn
         |    FROM embeddings e JOIN e8 ON e8.vec_id = e.vec_id
         |    CROSS JOIN cents c) WHERE rn = 1),
         |probes AS (
         |  SELECT cell, query_id, q8 FROM (
         |    SELECT c.cell, q.vec_id AS query_id, e8.q8,
         |      row_number() OVER (PARTITION BY q.vec_id
         |        ORDER BY ${cos("q.embedding", "c.centroid")} DESC, c.cell) AS rn
         |    FROM embeddings q JOIN e8 ON e8.vec_id = q.vec_id
         |    CROSS JOIN cents c WHERE q.vec_id < 20) WHERE rn <= 2),
         |cands AS (
         |  SELECT query_id, neighbor_id FROM (
         |    SELECT p.query_id, cl.neighbor_id,
         |      row_number() OVER (PARTITION BY p.query_id ORDER BY
         |        CAST(list_sum(list_transform(range(64),
         |          i -> p.q8[i+1] * cl.q8[i+1])) AS BIGINT) DESC,
         |        cl.neighbor_id) AS rn
         |    FROM probes p JOIN cells cl USING (cell)
         |    WHERE cl.neighbor_id <> p.query_id)
         |  WHERE rn <= 16),
         |scored AS (
         |  SELECT query_id, neighbor_id, ${cos("q.embedding", "c.embedding")} AS cosine
         |  FROM cands
         |  JOIN embeddings q ON q.vec_id = query_id
         |  JOIN embeddings c ON c.vec_id = neighbor_id)
         |SELECT query_id, neighbor_id, cosine, "rank" FROM (
         |  SELECT *, CAST(row_number() OVER (PARTITION BY query_id
         |    ORDER BY cosine DESC, neighbor_id) AS BIGINT) AS "rank"
         |  -- NaN never ranks: Spark's rankTopK drops NaN cosines (the
         |  -- zero-norm rule); DuckDB would otherwise sort NaN first
         |  FROM scored WHERE NOT isnan(cosine)) WHERE "rank" <= 5""".stripMargin,

    // The quantized-mean centroid replayed exactly: floor(x · 2^20) per
    // coordinate (the ×2^20 is exact), commutative integer sums, two
    // IEEE divisions, one rounding to FLOAT — then the shared ordered
    // cosine fold.
    "x19_prototypicality" ->
      s"""WITH e AS (SELECT vec_id, label, embedding AS v FROM embeddings
         |  WHERE embedding IS NOT NULL AND label IS NOT NULL
         |    AND len(list_filter(embedding, x -> x IS NULL)) = 0),
         |q AS (SELECT label, u.pos AS pos, u.qc AS qc FROM (
         |  SELECT label, unnest(list_transform(range(64), i ->
         |    {'pos': i, 'qc': CAST(floor(CAST(v[i + 1] AS DOUBLE) * 1048576.0) AS BIGINT)})) AS u
         |  FROM e) t),
         |s AS (SELECT label, pos, CAST(sum(qc) AS BIGINT) AS qs,
         |    CAST(count(*) AS BIGINT) AS n FROM q GROUP BY label, pos),
         |c AS (SELECT label, list(
         |    CAST((CAST(qs AS DOUBLE) / 1048576.0) / CAST(n AS DOUBLE) AS FLOAT)
         |    ORDER BY pos) AS centroid
         |  FROM s GROUP BY label)
         |SELECT e.vec_id, e.label, ${cos("e.v", "c.centroid")} AS proto_cos,
         |  (${cos("e.v", "c.centroid")} < 0.25) AS keep
         |FROM e JOIN c USING (label)""".stripMargin,

    "sim1_topk_bruteforce" -> sim1Sql,

    // recall@5 of the IVF path against the exact brute-force top-5 —
    // the standard ANN quality audit a production index build reports
    // next to its bench numbers (nProbe is THE recall/cost dial).
    "sim5_ivf_recall" ->
      s"""WITH ex AS ($sim1Sql), ap AS ($sim3Sql)
         |SELECT ex.query_id, CAST(count(ap.neighbor_id) AS BIGINT) AS n_hits,
         |  CAST(count(ap.neighbor_id) AS DOUBLE) / 5 AS recall
         |FROM ex LEFT JOIN ap
         |  ON ex.query_id = ap.query_id AND ex.neighbor_id = ap.neighbor_id
         |GROUP BY ex.query_id""".stripMargin,

    "sim2_topk_lsh" ->
      s"""WITH q AS (SELECT vec_id AS query_id, embedding AS qv,
         |    ${bucket("embedding")} AS bucket FROM embeddings WHERE vec_id < 20),
         |c AS (SELECT vec_id AS neighbor_id, embedding AS cv,
         |    ${bucket("embedding")} AS bucket FROM embeddings),
         |scored AS (
         |  SELECT query_id, neighbor_id, ${cos("qv", "cv")} AS cosine
         |  FROM q JOIN c USING (bucket) WHERE neighbor_id <> query_id)
         |SELECT query_id, neighbor_id, cosine, "rank" FROM (
         |  SELECT *, CAST(row_number() OVER (PARTITION BY query_id
         |    ORDER BY cosine DESC, neighbor_id) AS BIGINT) AS "rank"
         |  FROM scored) WHERE "rank" <= 5""".stripMargin,

    "sim3_topk_ivf" -> sim3Sql,

    // pl15: sim3's batch replay VERBATIM — serving from the
    // stream-built index must be indistinguishable from batch IVF
    // (every vector rides exactly one ingest drop; the streaming
    // fold's tie rule IS the batch argmax rule).
    "pl15_streaming_ann_serve" -> sim3Sql,

    // The self-graph replay: one signature CTE used in both roles, the
    // hamming-≤1 join (≡ the query-side 1-bit-flip probes), per-src
    // rank ≤ 5, then the mutual mark by left-joining the top-k edge
    // list against its own reversal.
    "sim9_knn_graph" ->
      s"""WITH sig AS (SELECT vec_id, embedding AS v,
         |    ${bucket("embedding")} AS bucket FROM embeddings),
         |scored AS (
         |  SELECT l.vec_id AS src_id, r.vec_id AS dst_id,
         |    ${cos("l.v", "r.v")} AS cosine
         |  FROM sig l JOIN sig r
         |    ON bit_count(xor(l.bucket, r.bucket)) <= 1
         |    AND l.vec_id <> r.vec_id),
         |top AS (
         |  SELECT src_id, dst_id, cosine, "rank" FROM (
         |    SELECT *, CAST(row_number() OVER (PARTITION BY src_id
         |      ORDER BY cosine DESC, dst_id) AS BIGINT) AS "rank"
         |    FROM scored) WHERE "rank" <= 5)
         |SELECT t.src_id, t.dst_id, t.cosine, t."rank",
         |  coalesce(r2.m, false) AS mutual
         |FROM top t LEFT JOIN (SELECT dst_id AS src_id, src_id AS dst_id,
         |    true AS m FROM top) r2
         |  ON t.src_id = r2.src_id AND t.dst_id = r2.dst_id""".stripMargin,

    // The funnel restated: per-query BM25 blocks (shared dl/stats CTEs,
    // the x13 formula verbatim), dense cosine blocks (the sim1 shape,
    // self-match excluded by ORIGINAL vec_id), rank-depth fetchK each,
    // then the RRF ordered fold in list order and the fused top-10.
    "sim10_hybrid_rrf" -> {
      val sparseArms = hybridQueries.map { case (qid, terms, _) =>
        s"""SELECT CAST($qid AS BIGINT) AS query_id, doc_id, bm25
           |  FROM ${bm25ScoredSqlFor(terms)}""".stripMargin
      }.mkString("\n  UNION ALL\n  ")
      val vidCase = hybridQueries.map { case (qid, _, vid) =>
        s"WHEN $vid THEN $qid" }.mkString(" ")
      val vids = hybridQueries.map(_._3).mkString(", ")
      s"""WITH dl AS (SELECT doc_id, CAST(len(string_split(text, ' ')) AS BIGINT) AS dl
         |       FROM documents),
         |stats AS (SELECT count(*) AS n,
         |            CAST(sum(dl) AS DOUBLE) / CAST(count(*) AS DOUBLE) AS avgdl
         |          FROM dl),
         |sp AS (
         |  $sparseArms),
         |sranked AS (
         |  SELECT query_id, doc_id, r FROM (
         |    SELECT *, CAST(row_number() OVER (PARTITION BY query_id
         |      ORDER BY bm25 DESC, doc_id) AS BIGINT) AS r
         |    FROM sp) WHERE r <= $hybridFetchK),
         |dq AS (SELECT CAST(CASE vec_id $vidCase END AS BIGINT) AS query_id,
         |         vec_id AS qvid, embedding AS qv
         |       FROM embeddings WHERE vec_id IN ($vids)),
         |dscored AS (SELECT query_id, c.vec_id AS doc_id,
         |    ${cos("qv", "c.embedding")} AS cosine
         |  FROM dq, embeddings c WHERE c.vec_id <> qvid),
         |dranked AS (
         |  SELECT query_id, doc_id, r FROM (
         |    SELECT query_id, doc_id, CAST(row_number() OVER (PARTITION BY query_id
         |      ORDER BY cosine DESC, doc_id) AS BIGINT) AS r
         |    FROM dscored WHERE NOT isnan(cosine)) WHERE r <= $hybridFetchK),
         |u AS (SELECT query_id, doc_id, 0 AS src, r FROM sranked
         |      UNION ALL
         |      SELECT query_id, doc_id, 1 AS src, r FROM dranked),
         |f AS (SELECT query_id, doc_id,
         |        list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
         |          list_transform(array_agg({'src': src, 'r': r} ORDER BY src, r),
         |            s -> 1.0 / ($hybridKRrf + s.r))), (a, b) -> a + b) AS rrf
         |      FROM u GROUP BY 1, 2)
         |SELECT query_id, doc_id, rrf, "rank" FROM (
         |  SELECT *, CAST(row_number() OVER (PARTITION BY query_id
         |    ORDER BY rrf DESC, doc_id) AS BIGINT) AS "rank" FROM f)
         |WHERE "rank" <= 10""".stripMargin
    },

    // The RAG path restated stage by stage: sim10's fusion replay with
    // the dense arm swapped to sim7's quantized-scan form (top-2·fetchK
    // integer-score candidates, exact-cosine re-rank to fetchK), then
    // ck2's packing CTEs over ONLY the fused documents.
    "pl8_rag_retrieval" -> {
      val sparseArms = hybridQueries.map { case (qid, terms, _) =>
        s"""SELECT CAST($qid AS BIGINT) AS query_id, doc_id, bm25
           |  FROM ${bm25ScoredSqlFor(terms)}""".stripMargin
      }.mkString("\n  UNION ALL\n  ")
      val vidCase = hybridQueries.map { case (qid, _, vid) =>
        s"WHEN $vid THEN $qid" }.mkString(" ")
      val vids = hybridQueries.map(_._3).mkString(", ")
      s"""WITH dl AS (SELECT doc_id, CAST(len(string_split(text, ' ')) AS BIGINT) AS dl
         |       FROM documents),
         |stats AS (SELECT count(*) AS n,
         |            CAST(sum(dl) AS DOUBLE) / CAST(count(*) AS DOUBLE) AS avgdl
         |          FROM dl),
         |sp AS (
         |  $sparseArms),
         |sranked AS (
         |  SELECT query_id, doc_id, r FROM (
         |    SELECT *, CAST(row_number() OVER (PARTITION BY query_id
         |      ORDER BY bm25 DESC, doc_id) AS BIGINT) AS r
         |    FROM sp) WHERE r <= $hybridFetchK),
         |$sq8CodesCte,
         |dcand AS (
         |  SELECT qvid, query_id, doc_id FROM (
         |    SELECT q.vec_id AS qvid,
         |      CAST(CASE q.vec_id $vidCase END AS BIGINT) AS query_id,
         |      c.vec_id AS doc_id,
         |      row_number() OVER (PARTITION BY q.vec_id ORDER BY
         |        CAST(list_sum(list_transform(range(64),
         |          i -> q.q8[i+1] * c.q8[i+1])) AS BIGINT) DESC,
         |        c.vec_id) AS rn
         |    FROM e8 q, e8 c WHERE q.vec_id IN ($vids) AND c.vec_id <> q.vec_id)
         |  WHERE rn <= ${2 * hybridFetchK}),
         |dsc AS (
         |  SELECT query_id, doc_id, ${cos("q.embedding", "c.embedding")} AS cosine
         |  FROM dcand
         |  JOIN embeddings q ON q.vec_id = qvid
         |  JOIN embeddings c ON c.vec_id = doc_id),
         |dranked AS (
         |  SELECT query_id, doc_id, r FROM (
         |    SELECT query_id, doc_id, CAST(row_number() OVER (PARTITION BY query_id
         |      ORDER BY cosine DESC, doc_id) AS BIGINT) AS r
         |    FROM dsc WHERE NOT isnan(cosine)) WHERE r <= $hybridFetchK),
         |u AS (SELECT query_id, doc_id, 0 AS src, r FROM sranked
         |      UNION ALL
         |      SELECT query_id, doc_id, 1 AS src, r FROM dranked),
         |fz AS (SELECT query_id, doc_id,
         |        list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
         |          list_transform(array_agg({'src': src, 'r': r} ORDER BY src, r),
         |            s -> 1.0 / ($hybridKRrf + s.r))), (a, b) -> a + b) AS rrf
         |      FROM u GROUP BY 1, 2),
         |fused AS (
         |  SELECT query_id, doc_id, rrf, "rank" FROM (
         |    SELECT *, CAST(row_number() OVER (PARTITION BY query_id
         |      ORDER BY rrf DESC, doc_id) AS BIGINT) AS "rank" FROM fz)
         |  WHERE "rank" <= 10),
         |${sentencePackSql(
            "(SELECT d2.doc_id, d2.text FROM documents d2 " +
              "JOIN (SELECT DISTINCT doc_id FROM fused) h USING (doc_id))",
            24)}
         |SELECT f2.query_id, f2.doc_id, f2.rrf, f2."rank",
         |  c.chunk_id, c.chunk, c.n_tokens
         |FROM fused f2 JOIN ck2chunks c USING (doc_id)""".stripMargin
    },

    // pl9: the multimodal dedup pipeline replayed end-to-end — mm2's
    // decode arithmetic, mm3's frame grid, dd15's aHash byte-for-byte
    // over the hex suffix (frame k = media bytes minus the first k,
    // i.e. the hex string minus the first 2k chars), the UNFILTERED
    // per-frame n² verify (a hash match proves the grouped banding IS
    // the brute force), then the same >= 2-frames rollup.
    "pl9_multimodal_dedup" ->
      """WITH cand AS (
        |  SELECT doc_id, text FROM documents WHERE doc_id % 4 = 0
        |  UNION ALL
        |  SELECT doc_id + 2000000, upper(substr(text, 1, 1)) || substr(text, 2)
        |  FROM documents WHERE doc_id % 16 = 0),
        |m AS (
        |  SELECT doc_id, text,
        |    octet_length(CAST(text AS BLOB)) % 7 + 1 AS n_frames
        |  FROM cand WHERE text IS NOT NULL),
        |fr AS (
        |  SELECT doc_id, text,
        |    CAST(unnest(range(0, n_frames, 2)) AS INT) AS frame_no
        |  FROM m),
        |hx0 AS (
        |  SELECT doc_id AS id, frame_no,
        |    substr(hex(CAST(text AS BLOB)), 2 * frame_no + 1) AS hx
        |  FROM fr),
        |bs0 AS (
        |  SELECT id, frame_no, len(hx)//2 AS n,
        |    list_transform(range(len(hx)//2), i ->
        |      (strpos('0123456789ABCDEF', substr(hx, CAST(2*i+1 AS INT), 1)) - 1) * 16
        |      + strpos('0123456789ABCDEF', substr(hx, CAST(2*i+2 AS INT), 1)) - 1) AS bs
        |  FROM hx0),
        |cl AS (
        |  SELECT id, frame_no, list_transform(range(61), j ->
        |      CASE WHEN ((j+1)*n)//61 > (j*n)//61
        |        THEN list_sum(bs[CAST((j*n)//61 AS INT)+1 : CAST(((j+1)*n)//61 AS INT)])
        |             // (((j+1)*n)//61 - (j*n)//61)
        |        ELSE 0 END) AS cells
        |  FROM bs0),
        |sig AS (
        |  SELECT id, frame_no, CAST(list_sum(list_transform(range(61), j ->
        |      CASE WHEN cells[CAST(j AS INT)+1] > list_sum(cells) // 61
        |        THEN CAST(1 AS BIGINT) << CAST(j AS INT)
        |        ELSE CAST(0 AS BIGINT) END)) AS BIGINT) AS sig
        |  FROM cl),
        |fp AS (
        |  SELECT l.id AS doc_a, r.id AS doc_b,
        |    CAST(bit_count(xor(l.sig, r.sig)) AS BIGINT) AS hamming
        |  FROM sig l JOIN sig r
        |    ON l.frame_no = r.frame_no AND l.id < r.id
        |  WHERE bit_count(xor(l.sig, r.sig)) <= 3)
        |SELECT doc_a, doc_b, count(*) AS n_frames_matched,
        |  min(hamming) AS min_hamming
        |FROM fp GROUP BY 1, 2 HAVING count(*) >= 2""".stripMargin,

    "mm1_media_meta" ->
      """SELECT doc_id, source,
        |  CAST(octet_length(CAST(text AS BLOB)) AS BIGINT) AS n_bytes,
        |  CAST(octet_length(CAST(text AS BLOB)) AS BIGINT) % 64 AS fake_width,
        |  CAST(octet_length(CAST(text AS BLOB)) AS BIGINT) // 64 AS fake_height
        |FROM documents""".stripMargin,

    "mm2_decode_meta" ->
      """SELECT doc_id,
        |  CAST(octet_length(CAST(text AS BLOB)) AS BIGINT) AS n_bytes,
        |  CAST(octet_length(CAST(text AS BLOB)) % 64 AS INTEGER) AS width,
        |  CAST(octet_length(CAST(text AS BLOB)) // 64 AS INTEGER) AS height,
        |  CAST(octet_length(CAST(text AS BLOB)) % 7 + 1 AS INTEGER) AS n_frames
        |FROM documents""".stripMargin,

    "mm3_frame_sample" ->
      """WITH m AS (
        |  SELECT doc_id,
        |    CAST(octet_length(CAST(text AS BLOB)) % 7 + 1 AS INTEGER) AS n_frames
        |  FROM documents)
        |SELECT doc_id, n_frames,
        |  CAST(f // 2 AS INTEGER) AS sample_no, CAST(f AS INTEGER) AS frame_no
        |FROM (SELECT doc_id, n_frames, unnest(range(0, n_frames, 2)) AS f FROM m)""".stripMargin,

    // mm4: the known pixel pattern recomputed arithmetically (PNG gray
    // is lossless: decode∘encode = identity), then the aHash61 cell
    // chain — the pl9/dd15 replay over an int list instead of hex. The
    // 16-48-pixel grids sit BELOW the 61-cell count, so the empty-cell
    // (ELSE 0) branch is exercised on every row.
    "mm4_imageio_roundtrip" ->
      s"""WITH m AS (
         |  SELECT doc_id, doc_id % 5 + 4 AS w, doc_id % 3 + 4 AS h
         |  FROM documents),
         |px AS (
         |  SELECT doc_id, w * h AS n,
         |    list_transform(range(w * h), i ->
         |      (doc_id * 31 + (i % w) * 7 + (i // w) * 13) % 256) AS bs
         |  FROM m),
         |$aHash61ChainSql
         |SELECT m.doc_id, CAST(m.w AS BIGINT) AS width,
         |  CAST(m.h AS BIGINT) AS height, sig.ahash
         |FROM m JOIN sig USING (doc_id)""".stripMargin,

    // mm5: decode∘resize∘hash replayed as pattern arithmetic — the
    // resized pixel at flat index i reads source (x, y) =
    // ((i%8)·w // 8, (i//8)·h // 8), then the same aHash61 cell chain
    // as mm4 over the fixed 64-pixel list.
    "mm5_resize_nearest" ->
      s"""WITH m AS (
         |  SELECT doc_id, doc_id % 5 + 4 AS w, doc_id % 3 + 4 AS h
         |  FROM documents),
         |px AS (
         |  SELECT doc_id, 64 AS n,
         |    list_transform(range(64), i ->
         |      (doc_id * 31 + (((i % 8) * w) // 8) * 7
         |        + (((i // 8) * h) // 8) * 13) % 256) AS bs
         |  FROM m),
         |$aHash61ChainSql
         |SELECT m.doc_id, CAST(8 AS BIGINT) AS width,
         |  CAST(8 AS BIGINT) AS height, sig.ahash
         |FROM m JOIN sig USING (doc_id)""".stripMargin,

    "tk1_bpe_vocab" -> {
      val union = (1 to bpeMerges).map(k =>
        s"SELECT CAST($k AS BIGINT) AS merge_rank, l AS left_sym, " +
          s"r AS right_sym, l || r AS merged, c AS pair_count FROM b$k")
        .mkString(" UNION ALL ")
      s"WITH ${bpeCtes(bpeMerges)}\nSELECT * FROM ($union)"
    },

    "tk2_bpe_tokenize" -> {
      val n = bpeMerges
      s"""WITH ${bpeCtes(n)},
         |words AS (
         |  SELECT doc_id, ws[i] AS word, i
         |  FROM (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
         |       UNNEST(range(1, len(ws) + 1)) AS u(i)
         |  WHERE ws[i] <> ''),
         |tok AS (
         |  SELECT w.doc_id,
         |    array_to_string(list(r.sym ORDER BY w.i), ' ') AS bpe_text
         |  FROM words w JOIN r$n r ON r.word = w.word
         |  GROUP BY w.doc_id)
         |SELECT doc_id, bpe_text,
         |  CAST(len(string_split(bpe_text, ' ')) AS BIGINT) AS n_tokens
         |FROM tok""".stripMargin
    },

    // The fixed-tokenizer apply replayed: the model re-learns over the
    // 'src0' slice (bpeCtes with src = the filtered corpus), the ranked
    // merge list folds over EVERY distinct corpus word (init = the
    // char-split word prepended to the 'l r'-encoded merge strings —
    // symbols never contain spaces, so the two-token encoding is
    // lossless), and documents re-assemble in word order. Spark resolves
    // in-vocab words by lookup and replays only OOV — the hash match
    // proves lookup ≡ replay.
    "tk3_bpe_apply" -> {
      val n = bpeMerges
      val mergeUnion = (1 to n)
        .map(k => s"SELECT $k AS rk, l || ' ' || r AS lr FROM b$k")
        .mkString(" UNION ALL ")
      s"""WITH srcd AS MATERIALIZED (
         |  SELECT doc_id, text FROM documents WHERE source = 'src0'),
         |${bpeCtes(n, src = "srcd")},
         |mrg AS MATERIALIZED (
         |  SELECT list(lr ORDER BY rk) AS ms FROM ($mergeUnion)),
         |words AS (
         |  SELECT doc_id, ws[i] AS word, i
         |  FROM (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
         |       UNNEST(range(1, len(ws) + 1)) AS u(i)
         |  WHERE ws[i] <> ''),
         |dsym AS MATERIALIZED (
         |  SELECT word, list_reduce(
         |    list_prepend(array_to_string(string_split(word, ''), ' '), ms),
         |    (acc, m) -> list_reduce(string_split(acc, ' '), (a2, x) -> CASE
         |      WHEN x = string_split(m, ' ')[2]
         |       AND (a2 = string_split(m, ' ')[1]
         |            OR ends_with(a2, ' ' || string_split(m, ' ')[1]))
         |      THEN a2 || x ELSE a2 || ' ' || x END)) AS sym
         |  FROM (SELECT DISTINCT word FROM words), mrg),
         |tok AS (
         |  SELECT w.doc_id,
         |    array_to_string(list(d.sym ORDER BY w.i), ' ') AS bpe_text
         |  FROM words w JOIN dsym d USING (word)
         |  GROUP BY w.doc_id)
         |SELECT doc_id, bpe_text,
         |  CAST(len(string_split(bpe_text, ' ')) AS BIGINT) AS n_tokens
         |FROM tok""".stripMargin
    },

    // every stage replayed over raw text: gopher gate (x15's SQL — the
    // copies share their original's text, so its per-doc verdict maps
    // through doc_id % 1000000), exact dedup keep-first BY TEXT (a hash
    // match proves the 16-byte content keys lost nothing), the BPE
    // chain re-learned over the surviving corpus, ordered re-assembly
    "pl5_bpe_pipeline" -> {
      val n = bpeMerges
      s"""WITH gop AS (
         |$x15Sql
         |),
         |corpus AS (
         |  SELECT doc_id, lang, text FROM documents
         |  UNION ALL
         |  SELECT doc_id + 1000000, lang, text FROM documents
         |  WHERE doc_id % 10 = 0),
         |keptc AS (
         |  SELECT c.doc_id, c.lang, c.text FROM corpus c
         |  JOIN gop ON gop.doc_id = c.doc_id % 1000000 WHERE gop.keep),
         |survids AS (SELECT min(doc_id) AS doc_id FROM keptc GROUP BY text),
         |survd AS MATERIALIZED (
         |  SELECT k.doc_id, k.lang, k.text FROM keptc k
         |  JOIN survids USING (doc_id)),
         |${bpeCtes(n, src = "survd")},
         |words AS (
         |  SELECT doc_id, ws[i] AS word, i
         |  FROM (SELECT doc_id, string_split(text, ' ') AS ws FROM survd),
         |       UNNEST(range(1, len(ws) + 1)) AS u(i)
         |  WHERE ws[i] <> ''),
         |tok AS (
         |  SELECT w.doc_id,
         |    array_to_string(list(r.sym ORDER BY w.i), ' ') AS bpe_text
         |  FROM words w JOIN r$n r ON r.word = w.word
         |  GROUP BY w.doc_id)
         |SELECT t.doc_id, s.lang,
         |  CAST(len(string_split(t.bpe_text, ' ')) AS BIGINT) AS n_tokens
         |FROM tok t JOIN survd s USING (doc_id)""".stripMargin
    },

    // Every measure integer (count / token sum / distinct texts / gated
    // count), the gopher gate is x15's own SQL — exact cross-engine.
    "pl6_dataset_card" ->
      s"""WITH gop AS (
         |$x15Sql
         |)
         |SELECT d.lang, d.source,
         |  CAST(count(*) AS BIGINT) AS n_docs,
         |  CAST(sum(len(string_split(d.text, ' '))) AS BIGINT) AS n_tokens,
         |  CAST(count(DISTINCT d.text) AS BIGINT) AS n_distinct_texts,
         |  CAST(sum(CASE WHEN g.keep THEN 1 ELSE 0 END) AS BIGINT) AS n_gopher_keep
         |FROM documents d JOIN gop g USING (doc_id)
         |GROUP BY 1, 2""".stripMargin,

    // The funnel restated stage by stage: text-equality anti join →
    // dd14's band/verify/best CTEs over the exact survivors → the x15
    // battery over the dedup survivors → one fate per batch doc.
    "pl7_ingest_funnel" ->
      s"""WITH $ingestBatchCte,
         |exact_kept AS (
         |  SELECT b.doc_id, b.text FROM batch b WHERE NOT EXISTS (
         |    SELECT 1 FROM documents p WHERE p.text = b.text)),
         |${gateCtes("exact_kept")},
         |fuzzy_kept AS (
         |  SELECT e.doc_id, e.text FROM exact_kept e
         |  LEFT JOIN best ON best.bid = e.doc_id WHERE best.bid IS NULL),
         |gop AS (
         |${x15SqlFor("fuzzy_kept")}
         |)
         |SELECT b.doc_id,
         |  CASE WHEN e.doc_id IS NULL THEN 'exact_dup'
         |       WHEN best.bid IS NOT NULL THEN 'near_dup'
         |       WHEN NOT g.keep THEN 'low_quality'
         |       ELSE 'kept' END AS fate,
         |  best.pid AS dup_of, best.jaccard AS jaccard
         |FROM batch b
         |LEFT JOIN exact_kept e ON e.doc_id = b.doc_id
         |LEFT JOIN best ON best.bid = b.doc_id
         |LEFT JOIN gop g ON g.doc_id = b.doc_id""".stripMargin,

    // pl10: the streaming curation pipeline's per-(day, source, fate)
    // counts — the batch composition of the dd14 gate CTEs + x15's
    // battery over the SAME derived ingest batch, grouped by the staged
    // drop index (ntile(4) by doc_id, the stageDocsOrdered assignment)
    // and its day window (day k of 2020-01-01 UTC). near_dup = any gate
    // candidate verified at jaccard ≥ 0.5 (EXISTS ≡ best non-null).
    "pl10_streaming_curation" ->
      s"""WITH base AS (
         |  SELECT doc_id, text, source,
         |    ntile($pl10Files) OVER (ORDER BY doc_id) - 1 AS b
         |  FROM documents),
         |batch AS (
         |  SELECT doc_id + 1000000 AS doc_id, text, source, b
         |  FROM base WHERE doc_id % 10 = 0
         |  UNION ALL
         |  SELECT doc_id + 2000000 AS doc_id,
         |    array_to_string(list_slice(string_split(text, ' '), 1,
         |      greatest((len(string_split(text, ' ')) * 4) // 5, 1)), ' ')
         |      AS text,
         |    source, b
         |  FROM base WHERE doc_id % 10 = 0
         |  UNION ALL
         |  SELECT doc_id + 4000000 AS doc_id,
         |    array_to_string(list_reverse(string_split(text, ' ')), ' ')
         |      AS text,
         |    source, b
         |  FROM base WHERE doc_id % 13 = 0),
         |${gateCtes("batch")},
         |gop AS (
         |${x15SqlFor("batch")}
         |)
         |SELECT make_timestamp(
         |    (CAST(1577836800 AS BIGINT) + 86400 * b.b) * 1000000)
         |    AS window_start,
         |  b.source,
         |  CASE WHEN best.bid IS NOT NULL THEN 'near_dup'
         |       WHEN NOT g.keep THEN 'low_quality'
         |       ELSE 'kept' END AS fate,
         |  CAST(count(*) AS BIGINT) AS n_docs
         |FROM batch b
         |LEFT JOIN best ON best.bid = b.doc_id
         |JOIN gop g ON g.doc_id = b.doc_id
         |GROUP BY 1, 2, 3""".stripMargin,

    // pl11: admitted = the rows whose INCLUSIVE running token total per
    // source (in doc_id order — the staged drops partition ascending
    // doc_id ranges, so arrival order IS doc_id order) fits the budget;
    // the first overflow closes the source, and a closed source's total
    // never re-enters the budget, so the prefix rule and the
    // cumsum-filter rule coincide. cum_tokens = the operator's
    // GroupState value as of each admission.
    "pl11_streaming_token_budget" -> pl11Sql,

    // w20: the oracle is pl11's replay VERBATIM — operator-state
    // restore must be output-invisible (FMGWS recovery is exact at any
    // epoch boundary: no watermark, no event-time stats to lose).
    "w20_streaming_operator_restore" -> pl11Sql,

    // pl12: decode∘resize∘hash replayed as pattern arithmetic (the
    // mm5 resize index map over the pl12 mixing pattern, perturbed
    // plants included), then the UNFILTERED n² verify — the dd15
    // lossless-banding discipline over REAL decoded pixels.
    "pl12_perceptual_pipeline" ->
      s"""WITH m AS (
         |  SELECT doc_id, doc_id AS base, FALSE AS perturb FROM documents
         |  UNION ALL
         |  SELECT doc_id + 2000000, doc_id, TRUE FROM documents
         |  WHERE doc_id % 16 = 0),
         |d AS (
         |  SELECT doc_id, base % 5 + 4 AS w, base % 3 + 4 AS h,
         |    base % 251 AS c1, base % 241 AS c2, perturb
         |  FROM m),
         |px AS (
         |  SELECT doc_id, 64 AS n,
         |    list_transform(range(64), i ->
         |      (c1 * ((((i // 8) * h) // 8) * w + (((i % 8) * w) // 8) + 3)
         |       + c2 * (((((i // 8) * h) // 8) * w + (((i % 8) * w) // 8))
         |               * ((((i // 8) * h) // 8) * w + (((i % 8) * w) // 8)) + 1)
         |       + CASE WHEN perturb
         |              AND (((i // 8) * h) // 8) * w + (((i % 8) * w) // 8) = 0
         |              THEN 1 ELSE 0 END) % 256) AS bs
         |  FROM d),
         |$aHash61ChainSql
         |SELECT l.doc_id AS doc_a, r.doc_id AS doc_b,
         |  CAST(bit_count(xor(l.ahash, r.ahash)) AS BIGINT) AS hamming
         |FROM sig l JOIN sig r ON l.doc_id < r.doc_id
         |WHERE bit_count(xor(l.ahash, r.ahash)) <= 3""".stripMargin,

    // pl13: batch replay of the streaming cell census — stub centroids
    // (first 8 corpus vectors, sim3's contract), argmax assignment by
    // (cosine DESC, cell) — ties keep the smallest cell, the fold's
    // strict-> rule — then the per-cell count + integer membership pin.
    "pl13_streaming_ann_ingest" ->
      s"""WITH cents AS (
         |  SELECT vec_id AS cell, embedding AS centroid
         |  FROM embeddings WHERE vec_id < 8 AND embedding IS NOT NULL),
         |asg AS (
         |  SELECT cell, vec_id FROM (
         |    SELECT c.cell, e.vec_id,
         |      row_number() OVER (PARTITION BY e.vec_id
         |        ORDER BY ${cos("e.embedding", "c.centroid")} DESC, c.cell)
         |        AS rn
         |    FROM embeddings e CROSS JOIN cents c
         |    WHERE e.vec_id IS NOT NULL AND e.embedding IS NOT NULL)
         |  WHERE rn = 1)
         |SELECT cell, CAST(count(*) AS BIGINT) AS n_vecs,
         |  CAST(sum(vec_id) AS BIGINT) AS sum_vec_ids
         |FROM asg GROUP BY 1""".stripMargin,

    // mm7: demux+decode+hash replayed as (doc, frame)-keyed pattern
    // arithmetic — the mm4 lossless-PNG discipline per container frame.
    "mm7_frame_decode" -> mm7Sql,

    // mm8: mm7's replay VERBATIM — the same frames in a multipage-TIFF
    // container through the JDK's own TIFF demuxer must hash
    // identically (8-bit gray TIFF is lossless; the container is the
    // only thing that changed).
    "mm8_tiff_frame_decode" -> mm7Sql,

    // pl14: the per-frame replay over base ∪ perturbed plants, the
    // UNFILTERED frame-aligned n² (a hash match proves the grouped
    // banding IS the brute force over real decoded pixels), then the
    // pl9 rollup.
    "pl14_video_dedup" ->
      s"""WITH cand AS (
         |  SELECT doc_id, doc_id AS base, FALSE AS perturb FROM documents
         |  UNION ALL
         |  SELECT doc_id + 2000000, doc_id, TRUE FROM documents
         |  WHERE doc_id % 16 = 0),
         |m AS (
         |  SELECT doc_id, base % 5 + 4 AS w, base % 3 + 4 AS h,
         |    base % 251 AS c1, base % 241 AS c2, base % 4 + 2 AS nf, perturb
         |  FROM cand),
         |fr AS (
         |  SELECT doc_id, w, h, c1, c2, perturb,
         |    CAST(unnest(range(nf)) AS BIGINT) AS frame_no
         |  FROM m),
         |px AS (
         |  SELECT doc_id, frame_no, 64 AS n,
         |    list_transform(range(64), i ->
         |      (c1 * ((((i // 8) * h) // 8) * w + (((i % 8) * w) // 8) + 3)
         |       + c2 * (((((i // 8) * h) // 8) * w + (((i % 8) * w) // 8))
         |               * ((((i // 8) * h) // 8) * w + (((i % 8) * w) // 8)) + 1)
         |       + 17 * frame_no
         |       + CASE WHEN perturb AND frame_no = 0
         |              AND (((i // 8) * h) // 8) * w + (((i % 8) * w) // 8) = 0
         |              THEN 1 ELSE 0 END) % 256) AS bs
         |  FROM fr),
         |${aHash61ChainSqlKeyed("doc_id, frame_no")},
         |fp AS (
         |  SELECT l.doc_id AS doc_a, r.doc_id AS doc_b,
         |    CAST(bit_count(xor(l.ahash, r.ahash)) AS BIGINT) AS hamming
         |  FROM sig l JOIN sig r
         |    ON l.frame_no = r.frame_no AND l.doc_id < r.doc_id
         |  WHERE bit_count(xor(l.ahash, r.ahash)) <= 3)
         |SELECT doc_a, doc_b, count(*) AS n_frames_matched,
         |  min(hamming) AS min_hamming
         |FROM fp GROUP BY 1, 2 HAVING count(*) >= 2""".stripMargin,

    // mm6: the decoded-pixel moments recomputed arithmetically from
    // mm4's pattern (PNG gray is lossless), summed per source — all
    // integers, the mean in exact milli-units.
    "mm6_pixel_stats" ->
      """WITH m AS (
        |  SELECT doc_id, source, doc_id % 5 + 4 AS w, doc_id % 3 + 4 AS h
        |  FROM documents),
        |px AS (
        |  SELECT doc_id, source, w * h AS n,
        |    list_transform(range(w * h), i ->
        |      (doc_id * 31 + (i % w) * 7 + (i // w) * 13) % 256) AS bs
        |  FROM m)
        |SELECT source, CAST(count(*) AS BIGINT) AS n_media,
        |  CAST(sum(n) AS BIGINT) AS n_pixels,
        |  CAST(sum(list_sum(bs)) AS BIGINT) AS sum_px,
        |  CAST(sum(list_sum(list_transform(bs, v -> v * v))) AS BIGINT)
        |    AS sum_sq_px,
        |  CAST(sum(list_sum(bs)) * 1000 // sum(n) AS BIGINT) AS mean_millipx
        |FROM px GROUP BY 1""".stripMargin
  )

  /** pl11's cumsum replay — shared VERBATIM by w20 (operator-state
    * restore must be output-invisible). */
  private val pl11Sql: String =
    s"""SELECT doc_id, source, n_tokens, cum_tokens FROM (
       |  SELECT doc_id, source,
       |    CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
       |    CAST(sum(len(string_split(text, ' ')))
       |      OVER (PARTITION BY source ORDER BY doc_id) AS BIGINT)
       |      AS cum_tokens
       |  FROM documents
       |  WHERE doc_id IS NOT NULL AND text IS NOT NULL)
       |WHERE cum_tokens <= $pl11Budget""".stripMargin

  /** The BPE learn loop replayed round-for-round in DuckDB: r0 is the
    * corpus word histogram with characters as symbols; each round k
    * counts adjacent (overlapping) symbol pairs weighted by word
    * frequency (pK), picks the (count DESC, left, right) argmax (bK),
    * and applies the merge as the same leftmost-nonoverlapping string
    * fold as [[Bpe]] — the accumulator ends with the merged token after
    * a merge, so it can never re-match as the pair's left. An EXHAUSTED
    * round (no adjacent pairs left, b$k empty) passes the histogram
    * through unchanged via the NOT EXISTS branch — the same contract as
    * [[graft.operators.Bpe.learn]] stopping early, instead of the bare
    * cross join wiping the chain on a degenerate corpus. MATERIALIZED
    * is load-bearing: each CTE is referenced by the two following ones,
    * and inlining would re-derive the whole chain exponentially. */
  private def bpeCtes(n: Int, src: String = "documents"): String = {
    val r0 =
      s"""r0 AS MATERIALIZED (
         |  SELECT w AS word, array_to_string(string_split(w, ''), ' ') AS sym,
         |         CAST(count(*) AS BIGINT) AS freq
         |  FROM (SELECT unnest(string_split(text, ' ')) AS w FROM $src)
         |  WHERE w <> '' GROUP BY w)""".stripMargin
    val rounds = (1 to n).map { k =>
      val p = k - 1
      s"""p$k AS MATERIALIZED (
         |  SELECT s[i] AS l, s[i+1] AS r, CAST(sum(freq) AS BIGINT) AS c
         |  FROM (SELECT string_split(sym, ' ') AS s, freq FROM r$p),
         |       UNNEST(range(1, len(s))) AS u(i)
         |  GROUP BY 1, 2),
         |b$k AS MATERIALIZED (
         |  SELECT l, r, c FROM p$k ORDER BY c DESC, l, r LIMIT 1),
         |r$k AS MATERIALIZED (
         |  SELECT word,
         |    list_reduce(string_split(sym, ' '), (acc, x) -> CASE
         |      WHEN x = b$k.r AND (acc = b$k.l OR ends_with(acc, ' ' || b$k.l))
         |      THEN acc || x ELSE acc || ' ' || x END) AS sym,
         |    freq
         |  FROM r$p, b$k
         |  UNION ALL
         |  SELECT word, sym, freq FROM r$p
         |  WHERE NOT EXISTS (SELECT 1 FROM b$k))""".stripMargin
    }
    (r0 +: rounds).mkString(",\n")
  }
}
