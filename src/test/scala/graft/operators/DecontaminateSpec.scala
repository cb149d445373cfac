package graft.operators

import graft.SparkTestBase
import org.apache.spark.sql.functions._

/** Null-input contracts for the single-eval plan fixes: the non-nullable
  * signature keys (coalesce) and outer explodes must not change results —
  * null text / null vectors simply cannot match anything. */
class DecontaminateSpec extends SparkTestBase {
  import spark.implicits._

  test("decontaminate: null-text docs get 0 shingles and are never contaminated") {
    val train = Seq(
      (1L, "the quick brown fox jumps over the lazy dog today"),
      (2L, null.asInstanceOf[String]),
      (3L, "completely unrelated content words nothing shared here at all"))
      .toDF("doc_id", "text")
    val bench = Seq((100L, "the quick brown fox jumps over the lazy dog today"))
      .toDF("doc_id", "text")
    val out = Decontaminate.shingleOverlap(train, bench, "doc_id", "text")
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getBoolean(3)))).toMap
    assert(out(2L) == ((0L, 0L, false))) // null text: 0 shingles, clean
    assert(out(1L)._3) // verbatim benchmark copy flagged
    assert(!out(3L)._3)
    assert(out(3L)._2 == 0L)
  }

  test("dedup signature paths tolerate null inputs (dropped, not crashed or matched)") {
    val docs = Seq(
      (1L, "identical duplicated text body"),
      (2L, "identical duplicated text body"),
      (3L, null.asInstanceOf[String]))
      .toDF("doc_id", "text")
    val sh = Dedup.simHashDup(docs, "doc_id", "text").collect()
    assert(sh.map(r => (r.getLong(0), r.getLong(1))).toSet == Set((1L, 2L)))

    val vec = Array.fill(64)(0.5f)
    val emb = Seq(
      (1L, vec.toSeq), (2L, vec.toSeq), (3L, null.asInstanceOf[Seq[Float]]))
      .toDF("id", "v")
    val near = Dedup.embeddingNearDup(emb, "id", "v").collect()
    assert(near.map(r => (r.getLong(0), r.getLong(1))).toSet == Set((1L, 2L)))
    val multi = Dedup.embeddingNearDupMultiProbe(emb, "id", "v").collect()
    assert(multi.map(r => (r.getLong(0), r.getLong(1))).toSet == Set((1L, 2L)))
  }

  test("bloomClean is exact: identical to the plain anti-join at any fpp") {
    val train = Seq(
      (1L, "the quick brown fox jumps over the lazy dog today"),
      (2L, "completely unrelated content words nothing shared here at all"),
      (3L, "the quick brown cat naps under the warm sun daily"), // shares "the quick brown"
      (4L, "short doc"), // < 3 tokens: no shingles, definitively clean
      (5L, null.asInstanceOf[String]))
      .toDF("doc_id", "text")
    val bench = Seq((100L, "the quick brown fox jumps over the lazy dog today"))
      .toDF("doc_id", "text")
    // exact truth via the existing overlap report: clean = n_overlap == 0
    val expected = Decontaminate.shingleOverlap(train, bench, "doc_id", "text")
      .filter(col("n_overlap") === 0).select("doc_id")
      .collect().map(_.getLong(0)).toSet
    for (fpp <- Seq(0.5, 0.01)) { // even an awful filter must stay exact
      val got = Decontaminate.bloomClean(train, bench, "doc_id", "text", fpp = fpp)
        .collect().map(_.getLong(0)).toSet
      assert(got == expected, s"fpp=$fpp: $got != $expected")
    }
    assert(expected == Set(2L, 4L, 5L)) // docs 1 and 3 share benchmark shingles
  }

  test("fuzzyLshOverlap: truncated paraphrase flagged, unrelated and null docs clean") {
    val base = "alpha beta gamma delta epsilon zeta eta theta iota kappa " +
      "lambda mu nu xi omicron pi rho sigma tau upsilon"
    val train = Seq(
      (1L, base), // its 80% truncation is in the bench set
      (2L, "completely unrelated content words nothing shared here at all today friend"),
      (3L, null.asInstanceOf[String]))
      .toDF("doc_id", "text")
    // bench = first 16 of the 20 tokens (Jaccard vs full = 14/18 ≈ 0.78)
    val bench = Seq((100L, base.split(" ").take(16).mkString(" ")))
      .toDF("doc_id", "text")
    val out = Decontaminate.fuzzyLshOverlap(train, bench, "doc_id", "text")
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getDouble(2), r.getBoolean(3)))).toMap
    assert(out(1L)._3, s"paraphrase not flagged: ${out(1L)}")
    assert(out(1L)._1 == 1L)
    assert(out(1L)._2 == 14.0 / 18.0) // exact shingle Jaccard, bit-pinned
    assert(out(2L) == ((0L, 0.0, false)))
    assert(out(3L) == ((0L, 0.0, false)))
  }

  test("fuzzyLshOverlap: Jaccard threshold is verified, not just banded") {
    // the same (doc, truncation) pair the previous test proves BANDS
    // (it reaches the verify stage) — raising the threshold above its
    // exact Jaccard of 14/18 must reject it there
    val base = "alpha beta gamma delta epsilon zeta eta theta iota kappa " +
      "lambda mu nu xi omicron pi rho sigma tau upsilon"
    val train = Seq((1L, base)).toDF("doc_id", "text")
    val bench = Seq((100L, base.split(" ").take(16).mkString(" ")))
      .toDF("doc_id", "text")
    val out = Decontaminate.fuzzyLshOverlap(train, bench, "doc_id", "text",
      threshold = 0.9).collect()
    assert(out.forall(!_.getBoolean(3)), out.mkString(";"))
  }

  test("fuzzyLshOverlap: oversized bench side trips the broadcast budget before any corpus work") {
    val train = Seq((1L, "tiny corpus row with a few words here")).toDF("doc_id", "text")
    val bench = Seq.tabulate(4)(i =>
      (100L + i, s"bench item $i alpha beta gamma delta epsilon zeta eta theta"))
      .toDF("doc_id", "text")
    val e = intercept[IllegalArgumentException] {
      Decontaminate.fuzzyLshOverlap(train, bench, "doc_id", "text",
        maxBenchBroadcastBytes = 64L)
    }
    assert(e.getMessage.contains("would broadcast"), e.getMessage)
    // the same call with the default budget sails through
    assert(Decontaminate.fuzzyLshOverlap(train, bench, "doc_id", "text")
      .count() == 1L)
    // an EMPTY bench side must not trip the estimator (null sum path)
    // and yields an all-clean report
    val clean = Decontaminate.fuzzyLshOverlap(train,
      bench.filter(col("doc_id") < 0), "doc_id", "text",
      maxBenchBroadcastBytes = 64L).collect()
    assert(clean.length == 1 && !clean(0).getBoolean(3))
  }

  test("fuzzyLshOverlap plan: corpus band keys never shuffle — bench broadcasts, only verified pairs exchange") {
    val train = graft.Tables.documents(spark, "/root/testdata/sf0.001")
      .select(col("doc_id"), col("text"))
    val bench = train.filter(col("doc_id") % 97 === 0)
      .select((col("doc_id") + 2000000).as("doc_id"), col("text"))
    val p = Decontaminate.fuzzyLshOverlap(train, bench, "doc_id", "text")
      .queryExecution.executedPlan.toString
    // band keys, shingle arrays and candidate pairs never become rows:
    // the benchmark index is a broadcast value the probe reads per doc
    assert(p.linesIterator.count(_.contains("lshOverlapProbe(")) == 1, p)
    assert(!p.contains("Exchange"), p)
    assert(!p.contains("Generate"), p)
    assert(!p.contains("Join"), p)
  }

  test("bad shingle and banding parameters fail with IllegalArgumentException") {
    import graft.functions.{MinHashBandKeysExpr, ShingleHashesExpr}
    val docs = Seq((1L, "a b c d")).toDF("doc_id", "text")
    val text = org.apache.spark.sql.catalyst.expressions.Literal("a b c d")
    val bad: Seq[(String, () => Any)] = Seq(
      "ShingleHashesExpr k=0" -> (() => ShingleHashesExpr(text, 0)),
      "ShingleHashesExpr k=-1" -> (() => ShingleHashesExpr(text, -1)),
      "MinHashBandKeysExpr k=0" -> (() => MinHashBandKeysExpr(text, 0, 32, 8)),
      "MinHashBandKeysExpr bands=0" -> (() => MinHashBandKeysExpr(text, 3, 32, 0)),
      "MinHashBandKeysExpr bands=-4" -> (() => MinHashBandKeysExpr(text, 3, 32, -4)),
      "shingleOverlap k=0" ->
        (() => Decontaminate.shingleOverlap(docs, docs, "doc_id", "text", k = 0)),
      "fuzzyLshOverlap k=0" ->
        (() => Decontaminate.fuzzyLshOverlap(docs, docs, "doc_id", "text", k = 0)),
      "fuzzyLshOverlap bands=0" ->
        (() => Decontaminate.fuzzyLshOverlap(docs, docs, "doc_id", "text", bands = 0)))
    for ((name, f) <- bad)
      withClue(name)(intercept[IllegalArgumentException](f()))
  }

  test("the broadcast probes equal the explode/join reference formulations on generated corpora (property)") {
    import org.scalacheck.{Gen, Prop, Test => SCTest}
    import org.scalacheck.Prop.propBoolean
    // words long enough that shingle hashes wrap mod P under the MinHash
    // affine maps: with one-letter words every hash function keeps the
    // same minimum and the bands agree all or nothing
    val vocab = Vector("alpha", "bravo", "charlie", "delta", "echo", "foxtrot")
    val genWords: Gen[String] = Gen.choose(0, 16)
      .flatMap(n => Gen.listOfN(n, Gen.oneOf(vocab))).map(_.mkString(" "))
    // null, empty and short (< k token) texts; a six-word vocabulary
    // repeats shingles inside and across docs
    val genText: Gen[String] = Gen.frequency(
      1 -> Gen.const(null: String), 1 -> Gen.const(""), 8 -> genWords)
    // a benchmark item near a corpus doc: a prefix of it, one to three
    // tokens replaced (partial band agreement), or the doc verbatim
    def near(t: String): Gen[String] =
      if (t == null) Gen.const(null: String)
      else {
        val ws = t.split(" ", -1)
        val replace = Gen.listOfN(3, Gen.zip(Gen.choose(0, ws.length - 1), Gen.oneOf(vocab)))
        Gen.oneOf(
          Gen.choose(0, ws.length).map(n => ws.take(n).mkString(" ")),
          Gen.choose(1, 3).flatMap(n => replace.map(_.take(n).foldLeft(ws) {
            case (acc, (i, w)) => acc.updated(i, w)
          }.mkString(" "))),
          Gen.const(t))
      }
    val genCase = for {
      train <- Gen.choose(1, 8).flatMap(Gen.listOfN(_, genText))
      nBench <- Gen.frequency(1 -> Gen.const(0), 4 -> Gen.choose(1, 6))
      bench0 <- Gen.listOfN(nBench, Gen.frequency(
        3 -> Gen.oneOf(train).flatMap(near), 1 -> genText))
      dupText <- Gen.oneOf(false, true) // repeat a bench text under a new id
      // bench ids: one per row, shared by consecutive rows, or every row
      // doubled under its own id (a doc then matches one id twice)
      idMode <- Gen.frequency(2 -> 0, 1 -> 1, 1 -> 2)
      k <- Gen.choose(1, 3)
      threshold <- Gen.oneOf(0.0, 0.25, 0.5, 0.6, 0.75, 1.0)
      banding <- Gen.oneOf((32, 8), (8, 4), (6, 3), (4, 1))
    } yield {
      val texts = if (dupText && bench0.nonEmpty) bench0 :+ bench0.head else bench0
      val bench = idMode match {
        case 0 => texts.zipWithIndex.map { case (t, i) => (1000L + i, t) }
        case 1 => texts.zipWithIndex.map { case (t, i) => (1000L + i / 2, t) }
        case _ => texts.zipWithIndex.flatMap { case (t, i) => Seq((1000L + i, t), (1000L + i, t)) }
      }
      (train, bench, k, threshold, banding._1, banding._2)
    }
    def byId(df: org.apache.spark.sql.DataFrame): Map[Long, Seq[Any]] =
      df.collect().map(r => r.getLong(0) -> r.toSeq.tail).toMap
    // no shrinking: every shrink step reruns four Spark queries; the
    // failing case is reported as generated
    val prop = Prop.forAllNoShrink(genCase) { case (trainTexts, benchRows, k, threshold, numHashes, bands) =>
      val train = trainTexts.zipWithIndex.map { case (t, i) => (i.toLong, t) }
        .toDF("doc_id", "text")
      val bench = benchRows.toDF("doc_id", "text")
      val exact = byId(Decontaminate.shingleOverlap(
        train, bench, "doc_id", "text", k, threshold))
      val exactRef = byId(DecontaminateReference.shingleOverlap(
        train, bench, "doc_id", "text", k, threshold))
      val fuzzy = byId(Decontaminate.fuzzyLshOverlap(
        train, bench, "doc_id", "text", k, numHashes, bands, threshold))
      val fuzzyRef = byId(DecontaminateReference.fuzzyLshOverlap(
        train, bench, "doc_id", "text", k, numHashes, bands, threshold))
      (exact == exactRef) :| s"shingleOverlap $exact != $exactRef" &&
        (fuzzy == fuzzyRef) :| s"fuzzyLshOverlap $fuzzy != $fuzzyRef"
    }
    val res = SCTest.check(SCTest.Parameters.default.withMinSuccessfulTests(60), prop)
    assert(res.passed, res.status.toString)
  }
}
