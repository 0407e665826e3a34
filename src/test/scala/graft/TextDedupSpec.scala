package graft

import graft.operators.{Dedup, TextAnalysis}
import org.apache.spark.sql.functions._

class TextDedupSpec extends SparkTestBase {
  import spark.implicits._

  test("normalize strips punctuation and lowercases (F1)") {
    val got = Seq("Hello, World! 42?").toDF("t")
      .select(TextAnalysis.normalize(col("t"))).as[String].head()
    assert(got == "hello world 42")
  }

  test("segmentNumber extracts the numeric key (F2)") {
    val got = Seq("outputs/segment_17/part-0.csv", "nope").toDF("f")
      .select(TextAnalysis.segmentNumber(col("f"))).collect()
    assert(got(0).getInt(0) == 17)
    assert(got(1).isNullAt(0))
  }

  test("tokenCount handles empty and multi-space text") {
    val got = Seq("", "  ", "one", "a  b\tc").toDF("t")
      .select(TextAnalysis.tokenCount(col("t"))).as[Int].collect().toSeq
    assert(got == Seq(0, 0, 1, 3))
  }

  test("shingles: sliding word k-grams; short text collapses to one") {
    val got = Seq("a b c d").toDF("t")
      .select(TextAnalysis.shingles(col("t"), 3)).as[Seq[String]].head()
    assert(got == Seq("a b c", "b c d"))
    val short = Seq("a b").toDF("t")
      .select(TextAnalysis.shingles(col("t"), 3)).as[Seq[String]].head()
    assert(short == Seq("a b"))
  }

  test("embeddingCrossScreen: planted paraphrase leak flagged with best eval match, clean rows pass") {
    val evalSet = Seq(
      (1L, Seq(1f, 0f, 0f, 0f)),
      (2L, Seq(0.9f, 0.1f, 0f, 0f))) // near-collinear with eval 1
      .toDF("vec_id", "embedding")
    val train = Seq(
      (100L, Seq(2f, 0.05f, 0f, 0f)), // scaled near-copy of eval 1 — a paraphrase leak
      (101L, Seq(0f, 0f, 1f, 0f)),    // orthogonal — clean
      (102L, Seq(0f, 1f, 0f, 0f)))    // weakly related — below threshold
      .toDF("vec_id", "embedding")
    val got = graft.operators.Dedup.embeddingCrossScreen(
        train, evalSet, "vec_id", "embedding", threshold = 0.9)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(got.keySet == Set(100L), s"only the planted leak should flag: $got")
    // both eval vectors clear 0.9 vs train 100; the BEST (higher cos,
    // then smaller id) must win deterministically
    assert(got(100L) == 1L)
  }

  test("lexicalDiversity: hand-computed stopword and hapax counts, empty text safe") {
    val df = Seq(
      (1L, "the cat and the dog"), // n=5 stop=3 (the,the,and) nd=4 hapax=3 (cat,and,dog)... and is hapax too
      (2L, "cat cat cat"),         // n=3 stop=0 nd=1 hapax=0
      (3L, ""))                    // all zeros, no div-by-zero
      .toDF("doc_id", "text")
    val got = TextAnalysis.lexicalDiversity(df, "text")
      .select("doc_id", "n_tokens", "stopword_cnt", "hapax_cnt", "stopword_ratio", "hapax_ratio")
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3), r.getDouble(4), r.getDouble(5)))).toMap
    // doc 1: tokens [the, cat, and, the, dog]; freq the:2 cat:1 and:1 dog:1
    assert(got(1L) == ((5L, 3L, 3L, 0.6, 0.75)), s"doc1: ${got(1L)}")
    assert(got(2L) == ((3L, 0L, 0L, 0.0, 0.0)), s"doc2: ${got(2L)}")
    assert(got(3L) == ((0L, 0L, 0L, 0.0, 0.0)), s"doc3: ${got(3L)}")
  }

  test("rarityMetrics: OOV counted against the df-ranked vocab cut, min_df finds unique strings") {
    // corpus: "common" in all 4 docs, "mid" in 2, unique serials in one
    val df = Seq(
      (1L, "common mid serialxyz"),
      (2L, "common mid common"),
      (3L, "common common"),
      (4L, "common"))
      .toDF("doc_id", "text")
    // vocabSize=1: only "common" (df=4) is in-vocab
    val got = graft.operators.TextAnalysis.rarityMetrics(df, "doc_id", "text", vocabSize = 1)
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3), r.getDouble(4)))).toMap
    assert(got(1L) == ((3L, 2L, 1L, 2.0 / 3.0)), s"doc1: ${got(1L)}") // mid+serial OOV; serial df=1
    assert(got(2L) == ((3L, 1L, 2L, 1.0 / 3.0)), s"doc2: ${got(2L)}") // one mid occurrence OOV
    assert(got(3L) == ((2L, 0L, 4L, 0.0)), s"doc3: ${got(3L)}")
    assert(got(4L) == ((1L, 0L, 4L, 0.0)), s"doc4: ${got(4L)}")
  }

  test("contaminationScore: per-doc shared-shingle fraction, zero through full overlap") {
    val probes = Seq((1L, "the cat sat on the mat")).toDF("doc_id", "text")
    val corpus = Seq(
      (100L, "the cat sat on the mat"),    // every 3-shingle shared -> 1.0
      (101L, "the cat sat here quietly"),  // 1 of 3 shingles shared
      (102L, "dogs bark loudly always"))   // nothing shared -> 0.0
      .toDF("doc_id", "text")
    val got = Dedup.contaminationScore(corpus, probes, "doc_id", "text", k = 3)
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getDouble(3)))).toMap
    assert(got(100L) == ((4L, 4L, 1.0)), s"doc100: ${got(100L)}")
    assert(got(101L) == ((3L, 1L, 1.0 / 3.0)), s"doc101: ${got(101L)}")
    assert(got(102L) == ((2L, 0L, 0.0)), s"doc102: ${got(102L)}")
  }

  test("bigramFluency: attested fraction vs corpus bigram df, short/empty docs via whole-text rule") {
    val df = Seq(
      (1L, "the cat sat"), // bigrams: "the cat" (df 2), "cat sat" (df 1)
      (2L, "the cat ran"), // "the cat" (df 2), "cat ran" (df 1)
      (3L, "zq"),          // short doc -> whole-text shingle "zq" (df 2)
      (4L, "zq"),
      (5L, "xx yy"),       // "xx yy" (df 1) -> nothing attested
      (6L, ""))            // empty -> "" shingle (df 1), no 0/0 edge
      .toDF("doc_id", "text")
    val got = TextAnalysis.bigramFluency(df, "doc_id", "text")
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3), r.getDouble(4)))).toMap
    assert(got(1L) == ((2L, 1L, 1L, 0.5)), s"doc1: ${got(1L)}")
    assert(got(2L) == ((2L, 1L, 1L, 0.5)), s"doc2: ${got(2L)}")
    assert(got(3L) == ((1L, 1L, 2L, 1.0)), s"doc3: ${got(3L)}")
    assert(got(4L) == ((1L, 1L, 2L, 1.0)), s"doc4: ${got(4L)}")
    assert(got(5L) == ((1L, 0L, 1L, 0.0)), s"doc5: ${got(5L)}")
    assert(got(6L) == ((1L, 0L, 1L, 0.0)), s"doc6: ${got(6L)}")
  }

  test("exact dedup keeps min id per distinct content") {
    val df = Seq((3L, "dup"), (1L, "dup"), (2L, "uniq")).toDF("doc_id", "text")
    val got = Dedup.exactDedup(df.select($"text", $"doc_id"), "text", "doc_id")
      .orderBy("doc_id").collect().map(r => (r.getString(0), r.getLong(1)))
    assert(got.toSeq == Seq(("dup", 1L), ("uniq", 2L)))
  }

  test("LSH finds planted near-duplicates, candidates stay sub-quadratic") {
    val base = "the quick brown fox jumps over the lazy dog again and again today"
    val nearDup = base.replace("today", "tonight")
    val others = (0 until 60).map(i =>
      s"totally unrelated document number $i with words w${i}a w${i}b w${i}c w${i}d w${i}e w${i}f")
    val docs = ((0L, base) +: (1L, nearDup) +: others.zipWithIndex.map {
      case (t, i) => (i + 2L, t)
    }).toDF("doc_id", "text")
    val pairs = Dedup.nearDupPairs(docs, "doc_id", "text", threshold = 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(pairs.contains((0L, 1L)), s"expected planted pair, got ${pairs.toSeq}")
    val cands = Dedup.lshCandidatePairs(docs, "doc_id", "text").count()
    val n = docs.count()
    assert(cands < n * (n - 1) / 4, s"candidate volume $cands too close to all-pairs")
  }

  test("crossNearDupPairs finds planted eval-in-train contamination, bipartite only") {
    val evalDoc = "the quick brown fox jumps over the lazy dog again and again today"
    val leaked = evalDoc.replace("today", "tonight") // contaminated train doc
    val evalSet = Seq((1L, evalDoc), (2L, "completely different benchmark question here ok"))
      .toDF("doc_id", "text")
    val train = (Seq((100L, leaked)) ++ (0 until 40).map(i =>
      (200L + i, s"unrelated training document $i with w${i}a w${i}b w${i}c w${i}d")))
      .toDF("doc_id", "text")
    val hits = graft.operators.Dedup.crossNearDupPairs(
        corpus = train, probes = evalSet, "doc_id", "text", threshold = 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(hits.toSeq == Seq((1L, 100L)), s"got ${hits.toSeq}")
    // the eval x eval and train x train pairs must never appear
    assert(hits.forall { case (a, b) => a < 100L && b >= 100L })
  }

  test("near-dup components: chains merge transitively, canonical = min id, survivors kept") {
    val docs = Seq(1L, 2L, 3L, 4L, 5L, 9L).toDF("doc_id")
    // 1-2-3 is a CHAIN (needs multi-round propagation), 4-5 a pair, 9 a singleton
    val pairs = Seq((1L, 2L), (2L, 3L), (4L, 5L)).toDF("id_a", "id_b")
    val comps = Dedup.nearDupComponents(docs, "doc_id", pairs)
    val got = comps.collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(got == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 4L, 5L -> 4L, 9L -> 9L))
    val kept = Dedup.keepCanonical(docs, "doc_id", comps)
      .select("doc_id").as[Long].collect().toSet
    assert(kept == Set(1L, 4L, 9L))
  }

  test("repeatedNgramSpans: shared phrases flagged at the right positions, unique spans clean") {
    val docs = Seq(
      (1L, "alpha beta gamma delta unique1 unique2 unique3"),
      (2L, "prefix words alpha beta gamma delta suffix"),
      (3L, "totally different content with no overlap at all")).toDF("doc_id", "text")
    val got = Dedup.repeatedNgramSpans(docs, "doc_id", "text", n = 3, minDocs = 2)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getString(2))).toSet
    // the shared run "alpha beta gamma delta" yields two shared 3-grams
    // at sliding positions in each doc; doc 3 contributes nothing
    assert(got == Set(
      (1L, 0, "alpha beta gamma"), (1L, 1, "beta gamma delta"),
      (2L, 2, "alpha beta gamma"), (2L, 3, "beta gamma delta")))
  }

  test("repeatedSpanCuts: islands merge overlap/adjacency; cutting them drops exactly the flagged tokens") {
    val docs = Seq(
      (1L, "alpha beta gamma delta unique1 unique2 unique3 alpha beta gamma delta tail1"),
      (2L, "prefix words alpha beta gamma delta suffix epsilon zeta eta theta iota"),
      (3L, "epsilon zeta eta theta iota and then something else entirely here now"),
      (4L, "totally different content with no overlap at all whatsoever in this")).toDF("doc_id", "text")
    val spans = Dedup.repeatedNgramSpans(docs, "doc_id", "text", n = 3, minDocs = 2)
      .collect().map(r => (r.getLong(0), r.getInt(1)))
    val cuts = Dedup.repeatedSpanCuts(docs, "doc_id", "text", n = 3, minDocs = 2)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getInt(2), r.getInt(3)))
    // coverage equivalence: the union of cut ranges == the union of
    // flagged [pos, pos+2] spans, per doc — cutting the ranges removes
    // exactly the flagged tokens, no more, no fewer
    val spanCover = spans.groupBy(_._1).view
      .mapValues(_.flatMap { case (_, p) => p to p + 2 }.toSet).toMap
    val cutCover = cuts.groupBy(_._1).view
      .mapValues(_.flatMap { case (_, s, e, _) => s to e }.toSet).toMap
    assert(cutCover == spanCover, s"cut coverage != span coverage")
    // islands are maximal: disjoint AND separated by at least one
    // surviving token (adjacent ranges would have merged)
    cuts.groupBy(_._1).values.foreach { rs =>
      val sorted = rs.sortBy(_._2)
      sorted.sliding(2).foreach {
        case Array((_, _, e1, _), (_, s2, _, _)) =>
          assert(s2 > e1 + 1, s"ranges touch: end=$e1 next=$s2")
        case _ =>
      }
      rs.foreach { case (_, s, e, tk) => assert(tk == e - s + 1) }
    }
    // doc 1 repeats the shared phrase twice with a unique gap between:
    // two distinct islands must survive consolidation
    assert(cuts.count(_._1 == 1L) == 2)
  }

  test("d12 cut: survivors are exactly the canonical docs of the d8 closure") {
    val dir = "/root/testdata/sf0.001"
    val docs = spark.read.parquet(s"$dir/documents.parquet")
      .select(col("doc_id"), col("text"))
    val pairs = Dedup.nearDupPairs(docs, "doc_id", "text",
      threshold = 0.5, k = 3, numHashes = 32, bands = 8)
    val comps = Dedup.nearDupComponents(docs, "doc_id", pairs)
    val survivors = Dedup.keepCanonical(docs, "doc_id", comps)
      .select("doc_id").as[Long].collect().toSet
    val canonical = comps.filter(col("id") === col("label"))
      .select("id").as[Long].collect().toSet
    assert(survivors == canonical)
    // every non-survivor is represented by a surviving canonical
    val labels = comps.collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(labels.values.toSet.subsetOf(survivors))
  }

  test("tfIdfTopTerms: rare repeated terms outrank ubiquitous ones; k bounds per doc") {
    import graft.operators.TextAnalysis
    val docs = Seq(
      (1L, "common common zebra zebra zebra"),
      (2L, "common unique"),
      (3L, "common filler words here")).toDF("doc_id", "text")
    val got = TextAnalysis.tfIdfTopTerms(docs, "doc_id", "text", k = 2)
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3)))
      .groupBy(_._1)
    // doc 1: zebra tf=3 df=1 -> score 3*4/2 = 6; common tf=2 df=3 -> 2*4/4 = 2
    val d1 = got(1L).sortBy(_._2).toSeq
    assert(d1 == Seq((1L, "common", 2L, 3L), (1L, "zebra", 3L, 1L)))
    // doc 2: unique (df=1) must beat common (df=3): 1*4/2=2 vs 1*4/4=1
    val d2top = TextAnalysis.tfIdfTopTerms(docs, "doc_id", "text", k = 1)
      .filter(col("doc_id") === 2L).collect().map(_.getString(1)).toSeq
    assert(d2top == Seq("unique"))
    got.values.foreach(rows => assert(rows.length <= 2))
  }

  test("large-star/small-star components agree with min-label on varied graph shapes") {
    def labelsOf(f: (org.apache.spark.sql.DataFrame, String, org.apache.spark.sql.DataFrame) => org.apache.spark.sql.DataFrame,
        ids: Seq[Long], edges: Seq[(Long, Long)]): Map[Long, Long] =
      f(ids.toDF("doc_id"), "doc_id", edges.toDF("id_a", "id_b"))
        .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    val rnd = new scala.util.Random(11)
    val shapes: Seq[(Seq[Long], Seq[(Long, Long)])] = Seq(
      // chain + pair + singleton (the existing min-label fixture)
      (Seq(1L, 2L, 3L, 4L, 5L, 9L), Seq((1L, 2L), (2L, 3L), (4L, 5L))),
      // two cliques bridged by one edge
      ((0L until 10L), (for (a <- 0L until 4L; b <- a + 1 to 4L) yield (a, b)) ++
        (for (a <- 5L until 9L; b <- a + 1 to 9L) yield (a, b)) :+ (4L, 5L)),
      // random sparse graph
      ((0L until 60L), Seq.fill(45)((rnd.nextInt(60).toLong, rnd.nextInt(60).toLong))
        .filter { case (a, b) => a != b })
    ).map { case (ids, es) => (ids.toSeq, es.toSeq) }
    shapes.foreach { case (ids, edges) =>
      val a = labelsOf(Dedup.nearDupComponents(_, _, _), ids, edges)
      val b = labelsOf(Dedup.nearDupComponentsLogStar(_, _, _), ids, edges)
      assert(a == b, s"algorithms disagree on $edges")
    }
  }

  test("log-star converges on a deep chain where min-label propagation hits its round cap") {
    val n = 120L
    val ids = (0L until n).toDF("doc_id")
    val chain = (0L until n - 1).map(i => (i, i + 1)).toDF("id_a", "id_b")
    // min-label needs O(n) rounds on a path graph: at its default cap it
    // must now FAIL LOUDLY instead of returning wrong labels silently
    intercept[IllegalArgumentException] {
      Dedup.nearDupComponents(ids, "doc_id", chain).collect()
    }
    // the alternating-star algorithm is depth-independent
    val got = Dedup.nearDupComponentsLogStar(ids, "doc_id", chain)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(got == (0L until n).map(_ -> 0L).toMap)
  }

  test("min-label converging exactly at the round cap succeeds (quiet round is extra)") {
    // path 0-1-2-3 needs exactly 3 rounds of change; maxIters bounds
    // CHANGE rounds, and the quiet confirming round must not count
    // against the cap — previously this threw on a converged result
    val ids = (0L until 4L).toDF("doc_id")
    val chain = (0L until 3L).map(i => (i, i + 1)).toDF("id_a", "id_b")
    val got = Dedup.nearDupComponents(ids, "doc_id", chain, maxIters = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(got == (0L until 4L).map(_ -> 0L).toMap)
    // one round short must still fail loudly
    intercept[IllegalArgumentException] {
      Dedup.nearDupComponents(ids, "doc_id", chain, maxIters = 2).collect()
    }
  }

  test("d6 banding config gives recall 1.0 vs brute-force Jaccard on the fixture") {
    // d6_neardup_pairs' oracle is exact all-pairs Jaccard; the Spark side
    // only equals it if LSH misses nothing. Signatures are
    // deterministically seeded, so this is a fixed property of
    // (corpus, config) — asserted here, not assumed.
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .select(col("doc_id"), col("text"))
    val lsh = Dedup.nearDupPairs(docs, "doc_id", "text",
        threshold = 0.5, k = 3, numHashes = 32, bands = 8)
      .select("id_a", "id_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val sh = graft.operators.TextAnalysis.withShingles(docs, "text", 3)
      .select(col("doc_id"), col("_sh"))
    val brute = sh.as("a").join(sh.as("b"), col("a.doc_id") < col("b.doc_id"))
      .withColumn("j", Dedup.jaccardFromShingles(col("a._sh"), col("b._sh")))
      .filter(col("j") >= 0.5)
      .select(col("a.doc_id"), col("b.doc_id"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(brute.nonEmpty, "fixture must contain planted near-dups")
    assert(lsh == brute, s"LSH missed ${brute -- lsh}, extra ${lsh -- brute}")
  }

  test("native shingles are identical to the declarative HOF form") {
    val texts = (Seq("", " ", "a", "a b", "one two three four five",
      "Hello, World! Punct.  and   spaces") ++
      (0 until 50).map(i => (0 to i % 9).map(j => s"w${i}_$j").mkString(" ")))
      .toDF("t")
    val staged = TextAnalysis.withTokens(texts, "t")
    (1 to 4).foreach { k =>
      val both = staged.select(
        TextAnalysis.shinglesFromTokens(col("_toks"), k).as("native"),
        TextAnalysis.shinglesFromTokensHof(col("_toks"), k).as("hof"))
      both.collect().foreach { r =>
        assert(r.getSeq[String](0) == r.getSeq[String](1), s"k=$k")
      }
    }
  }

  test("native minhash signature is bit-identical to the declarative HOF form") {
    val docs = Seq(
      (1L, "the quick brown fox jumps over the lazy dog"),
      (2L, "pack my box with five dozen liquor jugs today"),
      (3L, "a b"), // fewer tokens than k -> single collapsed shingle
      (4L, "one two three four five six seven eight nine ten"))
      .toDF("doc_id", "text")
    val staged = TextAnalysis.withShingles(docs, "text", 3)
    val both = staged.select(
      Dedup.minhashSignatureFromShingles(col("_sh"), 16).as("native"),
      Dedup.minhashSignatureHof(col("_sh"), 16).as("hof"))
    both.collect().foreach { r =>
      assert(r.getSeq[Long](0) == r.getSeq[Long](1))
    }
  }

  test("native simhash is bit-identical to the declarative HOF form") {
    // token arrays chosen for the edge cases the oracle corpus never
    // hits: null tokens (hash = the bare seed 42), empty arrays (0L),
    // single tokens, duplicate tokens (vote magnitude 2), and 2/4-token
    // arrays whose differing hash bits are exact vote TIES (tie → bit
    // clear — the `when(v > 0)` rule)
    val rows: Seq[Seq[String]] = Seq(
      Seq.empty[String],
      Seq("a"),
      Seq(null),
      Seq("a", null),
      Seq(null, null),
      Seq("a", "b"), // every differing bit is a tie
      Seq("a", "a"),
      Seq("a", "b", "c", "d"),
      Seq("one", "two", "three", "two", "one"),
      Seq("", "a", ""), // empty-string tokens hash normally
      (0 until 100).map(i => s"tok$i"))
    val df = rows.map(Tuple1(_)).toDF("_toks")
    val both = df.select(
      Dedup.simhashFromTokens(col("_toks")).as("native"),
      Dedup.simhashFromTokensDeclarative(col("_toks")).as("hof"))
    both.collect().foreach { r =>
      assert(r.getLong(0) == r.getLong(1),
        s"native ${r.getLong(0)} != hof ${r.getLong(1)}")
    }
    // null array propagates null through both forms
    val nullRow = Seq(Tuple1(null: Seq[String])).toDF("_toks").select(
      Dedup.simhashFromTokens(col("_toks")).as("native"),
      Dedup.simhashFromTokensDeclarative(col("_toks")).as("hof"))
    nullRow.collect().foreach { r =>
      assert(r.isNullAt(0) && r.isNullAt(1))
    }
  }

  test("simhash: an untyped array() literal fails at analysis, not at run time") {
    // array() is array<void>, not array<string>: rejected deliberately,
    // with no implicit cast to widen it
    val err = intercept[org.apache.spark.sql.AnalysisException](
      spark.range(1).select(Dedup.simhashFromTokens(array())))
    assert(err.getMessage.contains("simhash_from_tokens requires array<string> input"),
      err.getMessage)
  }

  test("simhash: near-identical texts within small hamming distance, unrelated far") {
    val df = Seq(
      (1L, "spark makes distributed data processing simple and fast for everyone"),
      (2L, "spark makes distributed data processing simple and fast for anyone"),
      (3L, "completely different content about cooking pasta with tomato sauce"))
      .toDF("id", "text")
    val sig = df.select($"id", Dedup.simhash($"text").as("s"))
    val m = sig.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    def ham(a: Long, b: Long) = java.lang.Long.bitCount(a ^ b)
    assert(ham(m(1L), m(2L)) < ham(m(1L), m(3L)))
    assert(ham(m(1L), m(2L)) <= 16)
  }

  test("jaccard of identical is 1, disjoint is 0") {
    val df = Seq(("a b c d", "a b c d"), ("a b c d", "x y z w")).toDF("l", "r")
    val got = df.select(Dedup.jaccard(col("l"), col("r"), 2)).as[Double].collect().toSeq
    assert(got == Seq(1.0, 0.0))
  }

  test("language id picks the stopword-dominant language") {
    val df = Seq(
      (1L, "the cat and the dog of the house is that with for was"),
      (2L, "der hund und die katze ist nicht ein tier mit von zu"),
      (3L, "zzz qqq xxx www")).toDF("doc_id", "text")
    val got = TextAnalysis.langId(df).select("doc_id", "lang_pred")
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(got(1L) == "en")
    assert(got(2L) == "de")
    assert(got(3L) == "und")
  }

  test("redactPii masks emails and IPs, flags them, and is a no-op on clean text") {
    val df = Seq(
      (1L, "mail me at first.last+tag@sub.example.co.uk today"),
      (2L, "server at 192.168.001.7 and backup 10.0.0.255."),
      (3L, "both a@b.io and 8.8.8.8 appear"),
      (4L, "no pii here, just version 1.2 and a price of 3.4.5x")
    ).toDF("doc_id", "text")
    val got = TextAnalysis.redactPii(df, "text")
      .select("doc_id", "text_redacted", "had_email", "had_ip")
      .collect().map(r => r.getLong(0) ->
        ((r.getString(1), r.getBoolean(2), r.getBoolean(3)))).toMap
    assert(got(1L) == (("mail me at <EMAIL> today", true, false)))
    assert(got(2L) == (("server at <IP> and backup <IP>.", false, true)))
    assert(got(3L) == (("both <EMAIL> and <IP> appear", true, true)))
    // 1.2 and 3.4.5x are not IPv4 shapes; nothing redacts
    assert(got(4L) == (("no pii here, just version 1.2 and a price of 3.4.5x", false, false)))
  }

  test("bloomPrefilterFlags: overlapping docs always flagged; disjoint corpus mostly clear") {
    val probes = Seq(
      (1L, "the quick brown fox jumps over the lazy dog"),
      (2L, "pack my box with five dozen liquor jugs")).toDF("doc_id", "text")
    val corpus = Seq(
      (100L, "a sentence containing the quick brown fox inside it"), // shares shingles
      (101L, "completely unrelated words about maritime navigation charts"),
      (102L, "pack my box with five dozen liquor jugs exactly"), // shares shingles
      (103L, "granite mountains erode slowly under glacial pressure")
    ).toDF("doc_id", "text")
    val got = Dedup.bloomPrefilterFlags(corpus, probes, "doc_id", "text", k = 3)
      .select("doc_id", "bloom_flagged")
      .collect().map(r => r.getLong(0) -> r.getBoolean(1)).toMap
    // no false negatives is a STRUCTURAL guarantee, not a probability
    assert(got(100L) && got(102L), "docs sharing a shingle must be flagged")
    // deterministic fixture + deterministic hashing: these two resolve
    // clear at fpp=1e-3 (a false positive would only cost a redundant
    // downstream check, but the fixture pins the common case)
    assert(!got(101L) && !got(103L), "disjoint docs should pass the filter")
    graft.CachePool.releaseAll()
  }

  test("bloomPrefilterFlags rejects oversized probe sets loudly") {
    val probes = Seq((1L, "a b c d e f g h i j")).toDF("doc_id", "text")
    val corpus = Seq((2L, "x y z")).toDF("doc_id", "text")
    val e = intercept[IllegalArgumentException] {
      Dedup.bloomPrefilterFlags(corpus, probes, "doc_id", "text",
        k = 3, maxProbeShingles = 2)
    }
    assert(e.getMessage.contains("maxProbeShingles"))
    graft.CachePool.releaseAll()
  }

  test("vocabCoverage: exact rank, cumulative mass, and coverage fractions") {
    val df = Seq((1L, "a a a b b c")).toDF("doc_id", "text")
    val got = TextAnalysis.vocabCoverage(df, "text", vocabSize = 2)
      .orderBy(col("rank"))
      .collect().map(r => (r.getString(0), r.getInt(1), r.getLong(2),
        r.getLong(3), r.getLong(4), r.getDouble(5)))
    assert(got.toSeq == Seq(
      ("a", 1, 3L, 3L, 6L, 0.5),
      ("b", 2, 2L, 5L, 6L, 5.0 / 6.0)))
  }

  test("vocabCoverage: ties break by term ascending; full vocab reaches coverage 1.0") {
    val df = Seq((1L, "z y z y")).toDF("doc_id", "text")
    val got = TextAnalysis.vocabCoverage(df, "text", vocabSize = 10)
      .orderBy(col("rank")).collect()
    assert(got.map(_.getString(0)).toSeq == Seq("y", "z"), "tf tie → term ASC")
    assert(got.last.getDouble(5) == 1.0)
  }

  test("boilerplatePassages: cross-doc repeated passage flags, unique tails pass") {
    val df = Seq(
      (1L, "x y u1 u2"),
      (2L, "x y u3 u4"),
      (3L, "q r s t")).toDF("doc_id", "text")
    val got = Dedup.boilerplatePassages(df, "doc_id", "text",
        passageTokens = 2, minDocs = 2)
      .collect()
      .map(r => (r.getLong(0), r.getInt(1)) -> (r.getString(2), r.getLong(3), r.getBoolean(4)))
      .toMap
    assert(got((1L, 0)) == ("x y", 2L, true), "shared prefix passage flags in both docs")
    assert(got((2L, 0)) == ("x y", 2L, true))
    assert(got((1L, 1)) == ("u1 u2", 1L, false))
    assert(got((3L, 0)) == ("q r", 1L, false))
    assert(got.size == 6, "non-overlapping passages: 2 per doc")
  }

  test("boilerplatePassages: trailing short passage is kept and counted") {
    val df = Seq((1L, "a b c")).toDF("doc_id", "text")
    val got = Dedup.boilerplatePassages(df, "doc_id", "text",
        passageTokens = 2, minDocs = 2)
      .orderBy(col("passage_idx")).collect()
    assert(got.map(_.getString(2)).toSeq == Seq("a b", "c"))
  }

  test("stripBoilerplate: reassembled text drops exactly the flagged passages, in order") {
    val df = Seq(
      (1L, "x y u1 u2 x y"),   // boilerplate at passages 0 and 2
      (2L, "x y p q"),
      (3L, "x y")).toDF("doc_id", "text") // all boilerplate → empty clean_text
    val got = Dedup.stripBoilerplate(df, "doc_id", "text",
        passageTokens = 2, minDocs = 2)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getString(3))).toMap
    assert(got(1L) == (3L, 2L, "u1 u2"))
    assert(got(2L) == (2L, 1L, "p q"))
    assert(got(3L) == (1L, 1L, ""), "all-boilerplate doc survives with empty text")
  }

  test("redactPii is idempotent: redacting redacted text changes nothing") {
    val df = Seq((1L, "a@b.io at 1.2.3.4")).toDF("doc_id", "text")
    val once = TextAnalysis.redactPii(df, "text")
      .select(col("doc_id"), col("text_redacted").as("text"))
    val twice = TextAnalysis.redactPii(once, "text")
      .select("text_redacted", "had_email", "had_ip").head()
    assert(twice.getString(0) == "<EMAIL> at <IP>")
    assert(!twice.getBoolean(1) && !twice.getBoolean(2))
  }

  test("keepCanonicalBy: trusted source wins its component, min-id breaks priority ties") {
    val base = "the quick brown fox jumps over the lazy dog again and again today"
    val docs = Seq(
      (1L, "srcB", base),                          // mirror copy, LOWER id
      (2L, "srcA", base.replace("today", "tonight")), // trusted near-dup
      (3L, "srcB", base.replace("today", "now")),  // third component member
      (10L, "srcC", "a completely different story about cooking pasta tonight with sauce"),
      (11L, "srcA", "distributed query engines shuffle data across the cluster nightly")
    ).toDF("doc_id", "source", "text")
    val pairs = Dedup.nearDupPairs(docs, "doc_id", "text", threshold = 0.5)
    val comps = Dedup.nearDupComponents(docs, "doc_id", pairs)
    val kept = Dedup.keepCanonicalBy(docs, "doc_id", comps, col("source"))
      .select("doc_id").collect().map(_.getLong(0)).toSet
    // min-id canonical would keep 1 (the srcB mirror); priority keeps
    // the srcA copy despite its higher id; singletons keep themselves
    assert(kept == Set(2L, 10L, 11L), s"got $kept")
    val plain = Dedup.keepCanonical(docs, "doc_id", comps)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(plain == Set(1L, 10L, 11L), s"min-id cut changed: $plain")
    // equal priorities fall back to min id — deterministic
    val flat = Dedup.keepCanonicalBy(docs, "doc_id", comps, lit(0))
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(flat == plain, s"constant priority must reduce to min-id: $flat")
  }

  test("encodingSignals: control chars and U+FFFD counted exactly, structure chars exempt") {
    val df = Seq(
      (1L, "clean prose with nothing wrong"),
      (2L, "tab\tand\nnewline\rare fine"),          // \t \n \r exempt
      (3L, "null\u0000byte and bell\u0007here"),     // 2 control chars
      (4L, "mojibake \ufffd twice \ufffd end"),      // 2 replacement chars
      (5L, "del\u007fchar and esc\u001bhere")        // DEL + ESC
    ).toDF("doc_id", "text")
    val got = TextAnalysis.encodingSignals(df)
      .select("doc_id", "ctrl_count", "repl_count", "encoding_ok")
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getBoolean(3))))
      .toMap
    assert(got(1L) == ((0L, 0L, true)))
    assert(got(2L) == ((0L, 0L, true)), "tab/newline/CR are document structure, not mojibake")
    assert(got(3L) == ((2L, 0L, false)))
    assert(got(4L) == ((0L, 2L, false)))
    assert(got(5L) == ((2L, 0L, false)), "DEL (0x7F) and ESC (0x1B) are control noise")
    // counts survive re-thresholding: a tolerant gate can be rebuilt
    // from the emitted longs without another text scan
    val tolerant = TextAnalysis.encodingSignals(df)
      .filter(col("ctrl_count") + col("repl_count") <= 2)
    assert(tolerant.count() == 5)
  }

  test("containmentPairs: embedded snippet is directed — contained side fires, containing side does not") {
    val big = (1 to 40).map(i => s"tok$i").mkString(" ")      // 40 tokens, 38 shingles
    val snippet = (10 to 17).map(i => s"tok$i").mkString(" ") // verbatim 8-token slice
    val df = Seq(
      (1L, big),
      (2L, snippet),                       // fully contained in 1
      (3L, "totally unrelated words here entirely different content")
    ).toDF("doc_id", "text")
    val got = Dedup.containmentPairs(df, "doc_id", "text", k = 3, threshold = 0.9)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    // snippet (6 shingles) -> all inside big: containment 1.0; the
    // reverse direction is 6/38 and must NOT fire — the asymmetry that
    // motivates containment over Jaccard (Jaccard here is ~0.16)
    assert(got.toSeq == Seq((2L, 1L, 1.0)), s"got ${got.toSeq}")
  }

  test("scriptMix: planted multi-script strings count exactly; priority tie-break; all-zero is other") {
    val df = Seq(
      (1L, "hello world"),                    // pure latin
      (2L, "Привет ok"), // 6 cyrillic + 2 latin
      (3L, "中文语料"),       // 4 CJK
      (4L, "مرحبا"), // 5 arabic
      (5L, "12345 !!!"),                       // none -> other
      (6L, "abАБ")                   // 2 latin, 2 cyrillic: tie -> latin priority
    ).toDF("doc_id", "text")
    val got = TextAnalysis.scriptMix(df)
      .select(col("doc_id"), col("n_latin"), col("n_cyrillic"), col("n_cjk"),
        col("n_arabic"), col("dominant_script"))
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4), r.getString(5))))
      .toMap
    assert(got(1L) == ((10L, 0L, 0L, 0L, "latin")))
    assert(got(2L) == ((2L, 6L, 0L, 0L, "cyrillic")))
    assert(got(3L) == ((0L, 0L, 4L, 0L, "cjk")))
    assert(got(4L) == ((0L, 0L, 0L, 5L, "arabic")))
    assert(got(5L) == ((0L, 0L, 0L, 0L, "other")))
    assert(got(6L) == ((2L, 2L, 0L, 0L, "latin")), "ties resolve by fixed priority")
  }

  test("bpePairCounts: word-frequency-weighted pair counts, in-word multiplicity, end-of-word marker") {
    val df = Seq(
      (1L, "aa ab"),
      (2L, "ab"),
      (3L, "aaa")
    ).toDF("doc_id", "text")
    val got = TextAnalysis.bpePairCounts(df, "text")
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    // vocab with marker: aa_(1), ab_(2), aaa_(1); windows:
    //   aa_  -> aa, a_        (x1)
    //   ab_  -> ab, b_        (x2)
    //   aaa_ -> aa, aa, a_    (x1 — the in-word multiplicity case)
    assert(got == Map("aa" -> 3L, "a_" -> 2L, "ab" -> 2L, "b_" -> 2L),
      s"got $got")
  }

  /** Sequential reference BPE (Sennrich et al. 2016's algorithm
    * verbatim: scan-left greedy merge, count-then-lex-min winner) —
    * the independent implementation bpeTrain must reproduce. */
  private def bpeModel(words: Map[String, Long],
      merges: Int): Seq[(Long, String, String, Long)] = {
    def mergeSeq(syms: Vector[String], a: String, b: String): Vector[String] = {
      val out = scala.collection.mutable.ArrayBuffer.empty[String]
      var i = 0
      while (i < syms.length) {
        if (i + 1 < syms.length && syms(i) == a && syms(i + 1) == b) {
          out += (a + b); i += 2
        } else { out += syms(i); i += 1 }
      }
      out.toVector
    }
    var vocab: Seq[(Vector[String], Long)] =
      words.toSeq.map { case (w, f) => ((w + "_").map(_.toString).toVector, f) }
    (1 to merges).map { step =>
      val counts = scala.collection.mutable.Map.empty[(String, String), Long]
      vocab.foreach { case (syms, f) =>
        syms.zip(syms.tail).foreach(p => counts(p) = counts.getOrElse(p, 0L) + f)
      }
      val ((a, b), c) = counts.toSeq.minBy { case ((l, r), n) => (-n, l, r) }
      vocab = vocab.map { case (syms, f) => (mergeSeq(syms, a, b), f) }
      (step.toLong, a, b, c)
    }
  }

  private def bpeRun(docs: Seq[String], merges: Int): Seq[(Long, String, String, Long)] =
    TextAnalysis.bpeTrain(docs.map(Tuple1(_)).toDF("text"), "text", merges)
      .collect().map(r => (r.getLong(0), r.getString(1),
        r.getString(2), r.getLong(3))).toSeq.sortBy(_._1)

  test("bpeTrain reproduces the sequential Sennrich loop on the worked vocabulary") {
    // the paper's worked example vocabulary (low×5 lower×2 newest×6
    // widest×3), as documents carrying word frequency
    val words = Map("low" -> 5L, "lower" -> 2L, "newest" -> 6L, "widest" -> 3L)
    val docs = words.toSeq.flatMap { case (w, f) => Seq.fill(f.toInt)(w) }
    val want = bpeModel(words, 8)
    val got = bpeRun(docs, 8)
    assert(got == want, s"merge tables diverged:\n got=$got\nwant=$want")
    // the first learned merge on this vocabulary is the famous (e, s)
    assert(got.head._2 == "e" && got.head._3 == "s" && got.head._4 == 9L)
  }

  test("bpeTrain: greedy left-to-right overlap rule and merged-symbol atomicity") {
    // Sennrich's two-stage semantics on 'aaaa_': the COUNT stage sees
    // all 3 overlapping (a,a) windows, but the MERGE stage scans
    // greedily left-to-right, so the word becomes (aa)(aa)(_) — two
    // atomic aa symbols, never three. Round 2's pair counts are then
    // (aa,aa)=1 and (aa,_)=1, and the tie breaks lexicographically to
    // (aa,_) ('_' < 'a'). All three facts pin the greedy rule.
    val got = bpeRun(Seq("aaaa"), 2)
    assert(got(0) == ((1L, "a", "a", 3L)),
      s"count stage must see all 3 overlapping windows: ${got(0)}")
    assert(got(1) == ((2L, "aa", "_", 1L)),
      s"round 2 over (aa)(aa)(_) with lex tie-break: ${got(1)}")
    assert(got == bpeModel(Map("aaaa" -> 1L), 2))
  }

  test("bpeTrain: fully-merged words survive later rounds; an exhausted vocabulary stops early") {
    // round-11 ADVICE crash shape: the single-char word "a" is
    // ["a","_"]; once (a,_) wins a round the word is ONE symbol and
    // the next round's pair explode walked sequence(0,-1) = [0,-1]
    // into element_at(syms, 0) — a 1-based-array exception.
    // (a,_) dominates round 1 here (count 10); rounds 2–3 must then
    // count pairs from the surviving "bc_" word alone.
    val got = bpeRun(Seq.fill(10)("a") :+ "bc", 10)
    assert(got == Seq(
      (1L, "a", "_", 10L),   // collapses every "a" to one symbol
      (2L, "b", "c", 1L),    // lex-min among (b,c)/(c,_) at count 1
      (3L, "bc", "_", 1L)),  // whole vocabulary now fully merged
      s"got $got")
    // merges=10 was requested but only 3 are learnable: the table
    // stops early instead of exploding or emitting null rules
    assert(got.size == 3)
  }

  test("bpeEncode replays a hand-checked table and reproduces training's final vocab") {
    import graft.operators.TextAnalysis
    // hand-replayed: "test_" under (e,s) then (es,t):
    //   t,e,s,t,_ -> t,es,t,_ -> t,est,_  (3 symbols)
    val enc = TextAnalysis.bpeEncode(
      Seq(Tuple1("test")).toDF("text"), "text", Seq(("e", "s"), ("es", "t")))
      .select(col("bpe_tokens")).head().getSeq[String](0)
    assert(enc == Seq("t", "est", "_"), s"got $enc")

    // train/encode consistency on the worked vocabulary: encoding each
    // training word with the learned table must reproduce the training
    // loop's own final symbol sequence (the apply path IS the training
    // rewrite, replayed) — checked via token counts summed per word
    val words = Map("low" -> 5L, "lower" -> 2L, "newest" -> 6L, "widest" -> 3L)
    val docs = words.toSeq.flatMap { case (w, f) => Seq.fill(f.toInt)(w) }
    val df = docs.map(Tuple1(_)).toDF("text")
    val table = TextAnalysis.bpeTrain(df, "text", 8)
      .orderBy(col("step")).collect()
      .map(r => (r.getString(1), r.getString(2))).toSeq
    val got = TextAnalysis.bpeEncode(
      words.keys.toSeq.map(Tuple1(_)).toDF("text"), "text", table)
      .select(col("text"), col("bpe_tokens")).collect()
      .map(r => r.getString(0) -> r.getSeq[String](1).toVector).toMap
    // sequential reference: replay the same table over each word
    def replay(w: String): Vector[String] = {
      var syms = (w + "_").map(_.toString).toVector
      table.foreach { case (a, b) =>
        val out = scala.collection.mutable.ArrayBuffer.empty[String]
        var i = 0
        while (i < syms.length) {
          if (i + 1 < syms.length && syms(i) == a && syms(i + 1) == b) {
            out += (a + b); i += 2
          } else { out += syms(i); i += 1 }
        }
        syms = out.toVector
      }
      syms
    }
    words.keys.foreach { w =>
      assert(got(w) == replay(w), s"word $w: got ${got(w)} want ${replay(w)}")
    }
    // the famous example: 'lowest' (UNSEEN word) segments with learned
    // subwords — the generalization BPE exists for
    val unseen = TextAnalysis.bpeEncode(
      Seq(Tuple1("lowest")).toDF("text"), "text", table)
      .select(col("bpe_tokens")).head().getSeq[String](0)
    assert(unseen == replay("lowest"), s"unseen word diverged: $unseen")
    assert(unseen.length < "lowest_".length, "no learned subword applied at all")
  }

  test("bpeEncodeByVocab equals the narrow bpeEncode row-for-row (incl. empty docs)") {
    import graft.operators.TextAnalysis
    val docs = Seq((1L, "the cat sat on the mat"), (2L, "banana bandana"),
      (3L, ""), (4L, "aaaa aab"), (5L, "the the the"))
    val df = docs.toDF("doc_id", "text")
    val table = Seq(("a", "a"), ("t", "h"), ("th", "e"), ("aa", "_"))
    val narrow = TextAnalysis.bpeEncode(df, "text", table)
      .select(col("doc_id"), col("bpe_tokens")).collect()
      .map(r => r.getLong(0) -> r.getSeq[String](1).toVector).toMap
    val byVocab = TextAnalysis.bpeEncodeByVocab(df, "doc_id", "text", table)
      .select(col("doc_id"), col("bpe_tokens")).collect()
      .map(r => r.getLong(0) -> r.getSeq[String](1).toVector).toMap
    assert(byVocab == narrow, s"paths diverged:\n vocab=$byVocab\nnarrow=$narrow")
    assert(narrow(3L).isEmpty, "empty doc must encode to an empty token array")
    assert(narrow(1L).nonEmpty)
  }

  test("bpeEncodeGreedy equals the fold form on the fixture (incl. overlap runs, duplicate rules, empty docs)") {
    import graft.operators.TextAnalysis
    val docs = Seq((1L, "the cat sat on the mat"), (2L, "banana bandana"),
      (3L, ""), (4L, "aaaa aab"), (5L, "the the the"),
      (6L, "test lowest newest widest"))
    val df = docs.toDF("doc_id", "text")
    // (a,a) exercises the run-parity overlap rule; the duplicated
    // (t,h) entry pins replay fidelity for pathological tables (the
    // fold applies it twice; greedy must too)
    val table = Seq(("a", "a"), ("t", "h"), ("th", "e"), ("aa", "_"),
      ("e", "s"), ("es", "t"), ("t", "h"))
    val narrow = TextAnalysis.bpeEncode(df, "text", table)
      .select(col("doc_id"), col("bpe_tokens")).collect()
      .map(r => r.getLong(0) -> r.getSeq[String](1).toVector).toMap
    val greedy = TextAnalysis.bpeEncodeGreedy(df, "text", table)
      .select(col("doc_id"), col("bpe_tokens")).collect()
      .map(r => r.getLong(0) -> r.getSeq[String](1).toVector).toMap
    assert(greedy == narrow, s"paths diverged:\n greedy=$greedy\nnarrow=$narrow")
    assert(greedy(3L).isEmpty)
  }

  test("bpeEncodeGreedy: 1k-rule table the fold form cannot plan cheaply — constant plan, parity vs the vocab form") {
    import graft.operators.TextAnalysis
    // a real-size-ish generated table: a doubling chain a^2^k (deep
    // per-word application) + 990 never-firing noise rules (table size
    // without application work — the fold form still plans ALL of them)
    val chain = (1 to 10).map(k => ("a" * (1 << (k - 1)), "a" * (1 << (k - 1))))
    val noise = (0 until 990).map(i => (s"q$i", s"q$i"))
    val table = chain ++ noise
    val docs = Seq((1L, ("a" * 1400) + " " + ("a" * 7) + " cat"),
      (2L, "aa aaa a"), (3L, "qq bb")).toDF("doc_id", "text")
    val greedyDf = TextAnalysis.bpeEncodeGreedy(docs, "text", table)
      .select(col("doc_id"), col("bpe_tokens"))
    val greedy = greedyDf.collect()
      .map(r => r.getLong(0) -> r.getSeq[String](1).toVector).toMap
    val byVocab = TextAnalysis.bpeEncodeByVocab(docs, "doc_id", "text", table)
      .select(col("doc_id"), col("bpe_tokens")).collect()
      .map(r => r.getLong(0) -> r.getSeq[String](1).toVector).toMap
    assert(greedy == byVocab, "greedy diverged from the replay-exact vocab form")
    // chain semantics check: 1400 a's double left-to-right through the
    // chain — head symbol is a^1024, leftovers trail in binary order
    assert(greedy(1L).head == "a" * 1024, s"got head len ${greedy(1L).head.length}")
    // THE structural claim: plan size is independent of the table
    // (the fold form pays one HOF layer per rule — linear)
    val smallPlan = TextAnalysis.bpeEncodeGreedy(docs, "text", table.take(10))
      .queryExecution.optimizedPlan.toString.length
    val bigPlan = greedyDf.queryExecution.optimizedPlan.toString.length
    assert(bigPlan < smallPlan * 2 + 2000,
      s"greedy plan grew with the merge table: 10 rules → $smallPlan chars, " +
        s"1000 rules → $bigPlan chars")
  }

  test("charSymsScala iterates code points — supplementary-plane chars stay whole and match the Column splitter (r12 advice)") {
    import graft.operators.TextAnalysis
    val w = "a𝄞b" // a, 𝄞 (U+1D11E, a surrogate pair), b
    val got = TextAnalysis.charSymsScala(w, "_")
    assert(got == Seq("a", "𝄞", "b", "_"), s"got $got")
    // parity with the Spark-side splitter bpeTrain's initial vocab uses
    // (length/substr count CODE POINTS in Spark SQL)
    val sparkSide = spark.sql(
      s"SELECT transform(sequence(1, length('$w') + 1), " +
        s"i -> substr('$w' || '_', i, 1))")
      .head().getSeq[String](0)
    assert(got == sparkSide, s"scala=$got spark=$sparkSide")
    // multi-char marker: only its FIRST code point is the boundary
    assert(TextAnalysis.charSymsScala("ab", "<w>") == Seq("a", "b", "<"))
  }

  test("bpeTrain: driver-vocab fast path equals the forced-distributed rounds (incl. ties, exhaustion, overlap runs)") {
    import graft.operators.TextAnalysis
    // worked vocabulary + overlap runs + an exhausting tiny corpus +
    // count ties that exercise the lexicographic (l, r) tie-break
    val corpora = Seq(
      Seq("low low low low low", "lower lower", "newest newest newest",
        "newest newest newest", "widest widest widest"),
      Seq("aaa aab", "ab"),
      Seq("ab"), // exhausts after 2 merges — both paths must stop early
      Seq("xy zw xy zw") // (x,y) ties (z,w) and both tie the markers
    )
    corpora.foreach { docs =>
      val df = docs.map(Tuple1(_)).toDF("text")
      def run(maxDriverVocab: Int) =
        TextAnalysis.bpeTrain(df, "text", merges = 6,
          maxDriverVocab = maxDriverVocab)
          .collect().map(r => (r.getLong(0), r.getString(1),
            r.getString(2), r.getLong(3))).toSeq.sortBy(_._1)
      val driver = run(1 << 20)
      val dist = run(0) // forces the distributed rounds
      assert(driver == dist, s"paths diverged on $docs:\n driver=$driver\n dist=$dist")
    }
  }

  test("selectMergeBatch: each exactness rule pinned on hand-built pair orders") {
    import graft.operators.TextAnalysis.selectMergeBatch
    val syms = Set("a", "b", "c", "d", "e", "f", "_")
    // rule (1): a pair sharing a symbol with an earlier selection ends
    // the batch — its own count is about to change
    assert(selectMergeBatch(IndexedSeq(("a", "b", 10L), ("b", "c", 8L),
      ("d", "e", 6L)), syms, 3) == IndexedSeq(("a", "b", 10L)))
    // rule (2) boundary: want=2 means entry 3 is the UNFETCHED-order
    // sentinel; (c,d)=8 ties it, and a new pair minted by the (a,b)
    // merge could tie 8 too and win the string tie-break — truncated
    assert(selectMergeBatch(IndexedSeq(("a", "b", 10L), ("c", "d", 8L),
      ("e", "a", 8L)), syms, 2) == IndexedSeq(("a", "b", 10L)))
    // rule (2) exhausted universe: no entry ranks below the batch at
    // all, so nothing can sneak between — both kept despite the tie
    assert(selectMergeBatch(IndexedSeq(("a", "b", 8L), ("c", "d", 8L)),
      syms, 3) == IndexedSeq(("a", "b", 8L), ("c", "d", 8L)))
    // rule (3): an output string that already names a symbol can
    // INFLATE counts anywhere below the probe — selected, then halt
    assert(selectMergeBatch(IndexedSeq(("c", "d", 10L), ("a", "b", 8L),
      ("e", "f", 6L)), syms + "ab", 3) ==
      IndexedSeq(("c", "d", 10L), ("a", "b", 8L)))
    // rule (3) at the head: one merge is sequential by definition
    assert(selectMergeBatch(IndexedSeq(("a", "b", 10L), ("e", "f", 6L)),
      syms + "ab", 3) == IndexedSeq(("a", "b", 10L)))
    // a later pair whose members name an earlier batch OUTPUT: with
    // "ab" already a symbol, the head ("a","b") collide-halts via
    // rule (3) before ("ab","c") is examined — batch is head only
    assert(selectMergeBatch(IndexedSeq(("a", "b", 10L), ("ab", "c", 9L),
      ("e", "f", 8L)), syms + "ab", 3) == IndexedSeq(("a", "b", 10L)))
    // pending-output collision, the used(l+r) branch (r17 review: the
    // case above halts earlier and never reaches it): "bc" and "ab"
    // are existing symbols but "abc" is FRESH, so ("a","bc") selects
    // cleanly and ("ab","c") — disjoint SYMBOLS, same output STRING —
    // is caught only by `used` holding the pending "abc"; it selects
    // (exact at its own step) then halts the batch
    assert(selectMergeBatch(IndexedSeq(("a", "bc", 10L), ("ab", "c", 9L),
      ("e", "f", 6L)), syms + "bc" + "ab", 3) ==
      IndexedSeq(("a", "bc", 10L), ("ab", "c", 9L)))
  }

  test("bpeTrain: batched distributed rounds learn multiple merges per scheduling round (r16 residual)") {
    import graft.operators.TextAnalysis
    // symbol-disjoint top pairs with counts clear of the stop
    // boundary: (a,b)=42 and (c,d)=26 both beat (b,a)=21, so ONE
    // batched round learns what the one-merge loop takes two for
    val df = Seq(Seq.fill(21)("abab").mkString(" "),
      Seq.fill(13)("cdcd").mkString(" ")).map(Tuple1(_)).toDF("text")
    def roundsAndTable(probe: Int) = {
      val before = graft.CachePool.trackedCount
      val t = TextAnalysis.bpeTrain(df, "text", merges = 2,
        maxDriverVocab = 0, mergeBatchProbe = probe)
        .collect().map(r => (r.getLong(0), r.getString(1),
          r.getString(2), r.getLong(3))).toSeq.sortBy(_._1)
      (graft.CachePool.trackedCount - before, t)
    }
    val (regSingle, tSingle) = roundsAndTable(1)
    val (regBatched, tBatched) = roundsAndTable(64)
    val expected = Seq((1L, "a", "b", 42L), (2L, "c", "d", 26L))
    assert(tSingle == expected, s"probe=1 learned $tSingle")
    assert(tBatched == expected, s"probe=64 learned $tBatched")
    // registered frames = vocab agg + initial vocab + one per
    // merge-learning round: two rounds at probe=1, ONE batched round
    assert(regSingle == 4, s"single-merge path registered $regSingle frames")
    assert(regBatched == 3, s"batched path registered $regBatched frames")
    // lineage-truncation boundary: every 8th round rebuilds the vocab
    // as an eager localCheckpoint (plan depth would otherwise grow
    // with the merge budget — a 50-round run OOM'd an 8g driver
    // building an execution-event plan string). A 10-round probe=1
    // run crosses the boundary: parity with the driver loop must hold
    // across the checkpoint, and the checkpointed round must register
    // in the pool like any other (vocab agg + initial + 10 rounds)
    val longDf = Seq(Tuple1(Seq.fill(5)("abcdefghijkl").mkString(" ")))
      .toDF("text")
    def longRun(gate: Int, probe: Int) = {
      val before = graft.CachePool.trackedCount
      val t = TextAnalysis.bpeTrain(longDf, "text", merges = 10,
        maxDriverVocab = gate, mergeBatchProbe = probe)
        .collect().map(r => (r.getLong(0), r.getString(1),
          r.getString(2), r.getLong(3))).toSeq.sortBy(_._1)
      (graft.CachePool.trackedCount - before, t)
    }
    val (regLong, tLong) = longRun(0, 1)
    val (_, tOracle) = longRun(1 << 20, 1)
    assert(tLong == tOracle,
      s"parity broke across the checkpoint boundary:\n oracle=$tOracle\n got=$tLong")
    assert(regLong == 12, s"10 probe=1 rounds must register 12 frames, got $regLong")
    // checkpoint blocks release DETERMINISTICALLY at the pool boundary
    // (r17 review: DataFrame.unpersist cannot reach checkpoint-backed
    // storage, so registerLocalCheckpoint captures the RDD itself) —
    // a boundary-crossing run followed by releaseAll must leave no new
    // persistent RDD behind
    val preIds = spark.sparkContext.getPersistentRDDs.keySet
    longRun(0, 1)
    graft.CachePool.releaseAll(blocking = true)
    val leftover = spark.sparkContext.getPersistentRDDs.keySet -- preIds
    assert(leftover.isEmpty, s"checkpoint blocks survived releaseAll: $leftover")
  }

  test("bpeTrain: batched rounds equal the sequential model on seeded random corpora (ties, collisions, truncation)") {
    import graft.operators.TextAnalysis
    // adversarial sweep for the batched-exact rounds: 1-3 letter
    // alphabets force count ties, output-string collisions (two
    // segmentations minting the same symbol) and boundary truncations
    // far more often than real text; the driver loop is the oracle
    // and probe=2 maximizes boundary-sentinel traffic
    val rnd = new scala.util.Random(20260816L)
    (1 to 10).foreach { trial =>
      val alpha = 1 + rnd.nextInt(3)
      val docs = (1 to 3 + rnd.nextInt(4)).map { _ =>
        val w = (1 to 1 + rnd.nextInt(5))
          .map(_ => ('a' + rnd.nextInt(alpha)).toChar).mkString
        Seq.fill(1 + rnd.nextInt(6))(w).mkString(" ")
      }
      val df = docs.map(Tuple1(_)).toDF("text")
      def run(probe: Int, gate: Int) =
        TextAnalysis.bpeTrain(df, "text", merges = 8,
          maxDriverVocab = gate, mergeBatchProbe = probe)
          .collect().map(r => (r.getLong(0), r.getString(1),
            r.getString(2), r.getLong(3))).toSeq.sortBy(_._1)
      val oracle = run(64, 1 << 20) // driver loop
      val b64 = run(64, 0)
      assert(b64 == oracle, s"probe=64 diverged on trial $trial $docs:\n oracle=$oracle\n got=$b64")
      val b2 = run(2, 0)
      assert(b2 == oracle, s"probe=2 diverged on trial $trial $docs:\n oracle=$oracle\n got=$b2")
    }
  }

  test("t38 token fertility: per-script sums reconcile with the component queries and the ratios recompute") {
    import graft.operators.TextAnalysis
    val dir = "/root/testdata/sf0.001"
    val docs = spark.read.parquet(s"$dir/documents.parquet")
      .select(col("doc_id"), col("text"))
    val rows = SparkEntry.queries("t38_token_fertility")(spark, dir).collect()
    assert(rows.nonEmpty)
    // doc partition: every document lands in exactly one script class
    assert(rows.map(_.getLong(1)).sum == docs.count(), "n_docs must partition the corpus")
    // corpus-wide BPE token total equals the independently-computed
    // t31 sum (same trained table, same encode pass)
    val t31Total = SparkEntry.queries("t31_bpe_encode")(spark, dir)
      .agg(org.apache.spark.sql.functions.sum(col("n_bpe_tokens"))).head().getLong(0)
    assert(rows.map(_.getLong(3)).sum == t31Total,
      s"per-script BPE sums must reconcile with t31's corpus total $t31Total")
    // byte total equals the raw corpus UTF-8 byte sum
    val byteTotal = docs.agg(org.apache.spark.sql.functions.sum(
      org.apache.spark.sql.functions.octet_length(col("text")).cast("long"))).head().getLong(0)
    assert(rows.map(_.getLong(4)).sum == byteTotal)
    // the reported ratios are exactly the one-division recompute
    rows.foreach { r =>
      val (words, bpe, bytes) = (r.getLong(2), r.getLong(3), r.getLong(4))
      if (words > 0)
        assert(r.getDouble(5) == bpe.toDouble / words.toDouble, s"fertility mismatch: $r")
      else assert(r.isNullAt(5))
      if (bpe > 0)
        assert(r.getDouble(6) == bytes.toDouble / bpe.toDouble, s"bytes_per_token mismatch: $r")
      else assert(r.isNullAt(6))
    }
  }

  test("t38 token fertility: multi-script corpus with a null-text class matches the oracle's LEFT-JOIN semantics") {
    // r15 ADVICE: the sf0.001 fixture emits ONE script row, so the
    // multi-script and NULL-guard paths were never compared. This
    // fixture forces four script classes plus an all-null 'other'
    // class: the word/token sums there must read 0 (the oracle's
    // LEFT JOIN + coalesce), never NULL, and the ratios stay NULL.
    //
    // ORACLE-VERIFIED (r17, DegenerateOracleProbe + compare_oracle.py
    // — DuckDB executed the t38 oracle SQL over THIS fixture and the
    // comparison read OK, value-for-value): 4 rows — cjk (1 doc, 0
    // words, 0 tokens, 20 bytes, NULL ratios), cyrillic (1, 0, 0, 32,
    // NULL), latin (2, 14, 47, 72, fertility 47/14 = 3.357142…,
    // bytes_per_token 72/47 = 1.531914…), other (2, 0, 0, NULL bytes,
    // NULL ratios). The hand-computed pins below assert the same
    // values; the probe makes DuckDB the second witness.
    import spark.implicits._
    val d = tmpDir("t38deg")
    Seq(
      (1L, "the quick brown fox jumps over the lazy dog"),
      (2L, "hello world hello world hello"),
      (3L, "привет мир привет"), // cyrillic
      (4L, "你好 世界 你好"), // cjk
      (5L, null.asInstanceOf[String]),
      (6L, null.asInstanceOf[String]))
      .toDF("doc_id", "text").write.parquet(s"$d/documents.parquet")
    val rows = SparkEntry.queries("t38_token_fertility")(spark, d).collect()
    val byScript = rows.map(r => r.getString(0) -> r).toMap
    // every doc lands in exactly one class; the null docs form 'other'
    assert(rows.map(_.getLong(1)).sum == 6L, s"n_docs must partition: ${rows.mkString("; ")}")
    assert(byScript.keySet == Set("latin", "cyrillic", "cjk", "other"), s"${byScript.keySet}")
    val other = byScript("other")
    assert(other.getLong(1) == 2L)
    // the degenerate class: sums COALESCE to 0 (bigint), ratios NULL,
    // and no byte count is claimed for text that does not exist
    assert(other.getLong(2) == 0L && other.getLong(3) == 0L,
      s"null-text class must report 0 words/tokens, got $other")
    assert(other.isNullAt(4) && other.isNullAt(5) && other.isNullAt(6),
      s"null-text class must report NULL bytes/ratios, got $other")
    // the latin class carries real sums and exact one-division ratios
    val latin = byScript("latin")
    assert(latin.getLong(2) > 0 && latin.getLong(3) > 0 && latin.getLong(4) > 0, s"$latin")
    assert(latin.getDouble(5) == latin.getLong(3).toDouble / latin.getLong(2).toDouble)
    assert(latin.getDouble(6) == latin.getLong(4).toDouble / latin.getLong(3).toDouble)
    // non-Latin classes: the fixture tokenizer normalizes to ASCII
    // (reference F1 parity — and the oracle's tok CTE strips the SAME
    // [^a-zA-Z0-9\s] class), so cyrillic/cjk words never reach the BPE
    // stage: 0 words / 0 tokens via the same LEFT-JOIN coalesce, real
    // byte counts, NULL ratios — the panel reading "this tokenizer
    // does not serve these scripts at all", which is the signal t38
    // exists to surface
    for (k <- Seq("cyrillic", "cjk")) {
      val r = byScript(k)
      assert(r.getLong(2) == 0L && r.getLong(3) == 0L, s"$k: $r")
      assert(r.getLong(4) > 0, s"$k must keep its byte count: $r")
      assert(r.isNullAt(5) && r.isNullAt(6), s"$k ratios must be NULL: $r")
    }
  }

  test("x45 context fit: null and empty text follow the oracle's CASE semantics") {
    // proactive degenerate pin (the t38 lesson): a NULL-text doc has
    // an unknown token count — it counts in n_docs, contributes no
    // chunks/waste, and does NOT count as fitting (CASE WHEN NULL <=
    // ctx THEN .. ELSE 0 on both engines); an EMPTY doc counts 0
    // tokens and fits every window with 0 chunks
    //
    // ORACLE-VERIFIED (r17, DegenerateOracleProbe + compare_oracle.py
    // — DuckDB ran the x45 oracle SQL over THIS fixture, OK): per ctx
    // {512, 2048, 8192}: n_docs 3, n_fit 2, n_chunks 1, waste
    // ctx − 3, fit_ratio 2/3, waste_ratio (ctx−3)/ctx — e.g. 509 /
    // 0.994140625 at 512
    import spark.implicits._
    val d = tmpDir("x45deg")
    Seq((1L, "one two three"), (2L, null.asInstanceOf[String]), (3L, ""))
      .toDF("doc_id", "text").write.parquet(s"$d/documents.parquet")
    val rows = SparkEntry.queries("x45_context_fit")(spark, d).collect()
    assert(rows.length == 3)
    rows.foreach { r =>
      assert(r.getLong(1) == 3L, s"n_docs counts null/empty docs: $r")
      assert(r.getLong(2) == 2L, s"real + empty fit, null does not: $r")
      assert(r.getLong(3) == 1L, s"one chunk from the real doc only: $r")
      assert(r.getLong(4) == r.getLong(0) - 3L, s"waste = ctx - 3 tokens: $r")
      assert(r.getDouble(5) == 2.0 / 3.0, s"fit_ratio: $r")
    }
  }

  test("x45 context fit: panel equals a driver-side recompute from per-doc token counts") {
    import graft.operators.TextAnalysis
    val dir = "/root/testdata/sf0.001"
    val ns = spark.read.parquet(s"$dir/documents.parquet")
      .select(TextAnalysis.tokenCount(col("text")).cast("long").as("n"))
      .collect().map(_.getLong(0)) // sf0.001: 500 docs, fine to collect in-spec
    val got = SparkEntry.queries("x45_context_fit")(spark, dir).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getDouble(5), r.getDouble(6)))).toMap
    assert(got.keySet == Set(512L, 2048L, 8192L))
    for (c <- Seq(512L, 2048L, 8192L)) {
      val chunks = ns.map(n => if (n > 0) (n + c - 1) / c else 0L)
      val fit = ns.count(_ <= c).toLong
      val waste = ns.zip(chunks).map { case (n, ch) => ch * c - n }.sum
      val want = (ns.length.toLong, fit, chunks.sum, waste,
        fit.toDouble / ns.length, waste.toDouble / (chunks.sum * c))
      assert(got(c) == want, s"ctx=$c: got ${got(c)}, want $want")
    }
  }

  test("w28 funnel time: a stage with zero converters is ABSENT, not a null/zero row") {
    // the t38 lesson applied proactively: the sf fixtures always have
    // converters at every stage, so the degenerate path — no purchases
    // at all — was never compared. Engine contract (matching the
    // oracle's WHERE t IS NOT NULL union branches): unconverted stages
    // produce NO row; the one populated stage reports its exact lower
    // median and converter count. Also pins the ordering guard: a
    // click BEFORE the first view does not convert.
    //
    // ORACLE-VERIFIED (r17, DegenerateOracleProbe + compare_oracle.py
    // — DuckDB ran the w28 oracle SQL over THIS fixture, OK): exactly
    // one row, (1_view_to_click, 2 users, median 5000000 µs) — the
    // zero-purchase stages absent on BOTH engines, user 3 excluded on
    // both.
    import spark.implicits._
    val d = tmpDir("w28deg")
    val base = 1700000000000000L // micros
    Seq(
      (1L, base, "view", 10L), (1L, base + 10000000L, "click", 11L),
      (2L, base, "view", 20L), (2L, base + 5000000L, "click", 21L),
      (3L, base, "click", 30L), (3L, base + 1000000L, "view", 31L))
      .toDF("user_id", "tus", "event_type", "event_id")
      .select(col("user_id"), timestamp_micros(col("tus")).as("ts"),
        col("event_type"), col("event_id"))
      .write.parquet(s"$d/events.parquet")
    val rows = SparkEntry.queries("w28_funnel_time")(spark, d).collect()
    assert(rows.length == 1,
      s"zero-converter stages must be absent, got: ${rows.mkString("; ")}")
    val r = rows.head
    assert(r.getString(0) == "1_view_to_click" && r.getLong(1) == 2L,
      s"user 3's pre-view click must not convert: $r")
    // lower median of {5s, 10s} gaps = 5s, a value from the data
    assert(r.getLong(2) == 5000000L, s"exact lower median: $r")
  }

  test("w28 funnel time: stage medians equal a driver-side lower-median recompute from w10's stage times") {
    val dir = "/root/testdata/sf0.001"
    // w10's output IS the per-user stage-time table (independently
    // oracled) — recompute each stage's gap population and lower
    // median in plain Scala and compare
    val f = SparkEntry.queries("w10_funnel")(spark, dir).collect()
      .map { r =>
        def at(i: Int): Option[Long] = if (r.isNullAt(i)) None else Some(r.getLong(i))
        (at(1), at(2), at(3))
      }
    def lowerMedian(xs: Seq[Long]): Long = xs.sorted.apply((xs.size - 1) / 2)
    val want = Map(
      "1_view_to_click" -> f.collect { case (Some(a), Some(b), _) => b - a },
      "2_click_to_purchase" -> f.collect { case (_, Some(b), Some(c)) => c - b },
      "3_view_to_purchase" -> f.collect { case (Some(a), _, Some(c)) => c - a })
    val got = SparkEntry.queries("w28_funnel_time")(spark, dir).collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    assert(got.keySet == want.filter(_._2.nonEmpty).keySet)
    want.filter(_._2.nonEmpty).foreach { case (stage, gaps) =>
      assert(got(stage) == ((gaps.length.toLong, lowerMedian(gaps.toSeq))),
        s"$stage: got ${got(stage)}, want (${gaps.length}, ${lowerMedian(gaps.toSeq)})")
    }
  }

  test("bpeTrain vocabCap: frequency-truncated training reproduces the full-vocab table on a Zipf corpus") {
    import graft.operators.TextAnalysis
    // r14 verdict scale axis (closing it): a vocabulary past the
    // driver gate either takes one exact Spark job per merge round or
    // — OPT-IN via vocabCap — a frequency-ranked top-k truncation.
    // Under a Zipfian token distribution the dropped tail is a small
    // share of PAIR MASS (each dropped word contributes freq·(len)
    // adjacencies), so merge decisions — whose winning counts ride the
    // head — are unchanged. Deterministic fixture, so this is a pinned
    // measurement, not a probabilistic claim.
    val rnd = new scala.util.Random(7L)
    val alphabet = "abcdefgh"
    val words = (0 until 400).map { _ =>
      val len = 6 + rnd.nextInt(8)
      (0 until len).map(_ => alphabet(rnd.nextInt(alphabet.length))).mkString
    }.distinct
    // Zipf(α≈2): rank-i word gets max(1, 5000/(i+1)²) occurrences
    val freqs = words.zipWithIndex.map { case (w, i) =>
      w -> math.max(1L, 5000L / ((i + 1L) * (i + 1L))) }
    val docs = freqs.flatMap { case (w, f) => Seq.fill(f.toInt)(w) }
    val df = rnd.shuffle(docs).map(Tuple1(_)).toDF("text")
    def table(maxDriverVocab: Int, vocabCap: Int) =
      TextAnalysis.bpeTrain(df, "text", merges = 60,
        maxDriverVocab = maxDriverVocab, vocabCap = vocabCap)
        .collect().map(r => (r.getLong(0), r.getString(1),
          r.getString(2), r.getLong(3))).toSeq.sortBy(_._1)
    val full = table(1 << 20, 0)
    val cap = words.size / 2
    // maxDriverVocab below the vocab size forces the over-gate branch;
    // vocabCap takes the top-k tier instead of 60 distributed jobs
    val capped = table(16, cap)
    // the dropped tail's pair-mass share, for the scaladoc's claim
    val sorted = freqs.sortBy { case (w, f) => (-f, w) }
    def mass(ws: Seq[(String, Long)]) = ws.map { case (w, f) => f * w.length }.sum
    val dropShare = mass(sorted.drop(cap)).toDouble / mass(sorted)
    info(f"dropped pair-mass share at cap=$cap: ${dropShare * 100}%.2f%%")
    assert(dropShare < 0.05, f"fixture no longer Zipf-dominated: $dropShare%.3f")
    // the honest comparison is over RULES (l, r): capped pair_counts
    // are lower by exactly the dropped adjacencies, and a rule's
    // POSITION is guaranteed only while the winner's lead exceeds the
    // dropped mass. Measured on this fixture (deterministic, so these
    // are pins, not probabilities): the first 6 rules are identical in
    // order, and ~80% of the 60-rule sets coincide — the divergent
    // rest are low-margin reorderings (this random-string fixture is
    // ADVERSARIAL: real corpora concentrate pair mass in morphology
    // far more than uniform random strings do).
    val fullRules = full.map(r => (r._2, r._3))
    val cappedRules = capped.map(r => (r._2, r._3))
    val prefix = fullRules.zip(cappedRules).takeWhile { case (a, b) => a == b }.size
    val overlap = (fullRules.toSet & cappedRules.toSet).size.toDouble / fullRules.size
    info(s"identical-rule prefix: $prefix of 60; rule-set overlap: " +
      f"${overlap * 100}%.0f%%")
    assert(prefix >= 6, s"head rules must be truncation-stable, prefix=$prefix")
    assert(overlap >= 0.75, f"rule-set overlap $overlap%.2f below 0.75")
  }

  test("bpeTrain incremental driver loop: 500-merge randomized parity vs the sequential re-count model") {
    import graft.operators.TextAnalysis
    // randomized corpus wide enough that 500 merges exercise the
    // incremental bookkeeping deeply (pair counts rising AND falling,
    // stale heap entries, words leaving/entering the occurrence index)
    val rnd = new scala.util.Random(20260815L)
    val alphabet = "abcdefghijk"
    val words = (0 until 800).map { _ =>
      val len = 8 + rnd.nextInt(9)
      (0 until len).map(_ => alphabet(rnd.nextInt(alphabet.length))).mkString
    }.distinct.map(w => w -> (1L + rnd.nextInt(20))).toMap
    val docs = words.toSeq.flatMap { case (w, f) => Seq.fill(f.toInt)(w) }
    val want = bpeModel(words, 500)
    val got = bpeRun(rnd.shuffle(docs), 500)
    assert(got.size == 500, s"expected 500 merges, got ${got.size}")
    assert(got == want,
      s"incremental trainer diverged from the re-count model; first diff at " +
        s"${got.zip(want).indexWhere { case (a, b) => a != b }}")
  }

  test("bpeTrain: an 8k-merge budget trains in seconds on the incremental driver tier") {
    import graft.operators.TextAnalysis
    // a real tokenizer budget is ~32k merges; the old full-re-count
    // loop was O(vocab-width x merges) and the distributed twin one
    // Spark job per round — both unusable there. The incremental
    // trainer touches only pair-containing words per round, so a
    // 5k+ budget is sub-second driver work once the vocabulary is
    // aggregated. This pins the scale contract with a measured run.
    val rnd = new scala.util.Random(42L)
    val words = (0 until 3000).map { _ =>
      val len = 10 + rnd.nextInt(9)
      (0 until len).map(_ => ('a' + rnd.nextInt(26)).toChar).mkString
    }.distinct
    val df = words.map(Tuple1(_)).toDF("text")
    val t0 = System.nanoTime()
    val table = TextAnalysis.bpeTrain(df, "text", merges = 8000)
      .collect().map(r => (r.getLong(0), r.getString(1),
        r.getString(2), r.getLong(3)))
    val secs = (System.nanoTime() - t0) / 1e9
    info(f"8000 merges over ${words.size} distinct words in $secs%.1f s")
    assert(table.length == 8000, s"expected 8000 merges, got ${table.length}")
    assert(table.map(_._1).toSeq == (1L to 8000L), "steps must be 1..8000")
    assert(table.forall(_._4 > 0L), "every learned pair_count is positive")
    // generous noise-proof wall bound; the driver loop itself is ~100x
    // under this (the bound exists to catch an accidental return to
    // the re-count form, which takes minutes here)
    assert(secs < 60.0, f"8k merges took $secs%.1f s — incremental loop regressed")
  }

  test("bpeTrain vocabCap: production-shaped budget — 1000 merges on a morphology corpus capped 20k -> 8k") {
    import graft.operators.TextAnalysis
    // r15 verdict item 7: the 60-merge Zipf pin shows the MECHANISM;
    // this pins the tier at the shape it exists for — a four-digit
    // merge budget over a capped real-corpus-LIKE vocabulary. Words
    // are root+suffix compositions (real corpora concentrate pair
    // mass in shared morphology; the uniform-random fixture above is
    // the adversarial floor), Zipf(α≈1) frequencies — the classic
    // natural-language exponent.
    val rnd = new scala.util.Random(1009L)
    val alphabet = "abcdefghijklmnop"
    val roots = (0 until 4000).map { _ =>
      val len = 4 + rnd.nextInt(5)
      (0 until len).map(_ => alphabet(rnd.nextInt(alphabet.length))).mkString
    }.distinct
    val suffixes = Seq("", "s", "ing", "ed", "er", "ly", "tion", "ness")
    val words = roots.flatMap(r => suffixes.map(r + _)).distinct
      .take(20000)
    // Zipf(α≈1), corpus tokens ≫ types (the production regime: ~1M
    // token instances over 20k types — a fixture whose singleton tail
    // carries double-digit token mass is NOT production-shaped and
    // legitimately diverges under truncation): rank-i word appears
    // 100000/(i+1) times, so even rank 20000 appears ~5×. The capped
    // tail (ranks 8193..20000) carries ≈ ln(20000/8192)/H(20000) ≈
    // 8.6% of token mass — α=1's log-band share, cap-invariant.
    val freqs = words.zipWithIndex.map { case (w, i) =>
      w -> math.max(1L, 100000L / (i + 1L)) }
    val instances = freqs.flatMap { case (w, f) => Seq.fill(f.toInt)(w) }
    // pack 100 words per doc row: the 1M-instance corpus stays ~10k rows
    val df = rnd.shuffle(instances).grouped(100).map(ws => Tuple1(ws.mkString(" ")))
      .toSeq.toDF("text")
    def run(maxDriverVocab: Int, vocabCap: Int): (Seq[(String, String)], Double) = {
      val t0 = System.nanoTime()
      val t = TextAnalysis.bpeTrain(df, "text", merges = 1000,
        maxDriverVocab = maxDriverVocab, vocabCap = vocabCap)
        .collect().map(r => (r.getString(1), r.getString(2))).toSeq
      (t, (System.nanoTime() - t0) / 1e9)
    }
    val (full, fullSec) = run(1 << 20, 0) // exact: 20k words fit the driver gate
    val cap = 8192
    val (capped, cappedSec) = run(1024, cap) // gate forced low -> top-k tier
    assert(full.size == 1000 && capped.size == 1000,
      s"both tiers must spend the full budget: ${full.size}/${capped.size}")
    val prefix = full.zip(capped).takeWhile { case (a, b) => a == b }.size
    val overlap = (full.toSet & capped.toSet).size.toDouble / full.size
    info(f"20k->8k cap at 1000 merges: identical prefix $prefix, " +
      f"rule-set overlap ${overlap * 100}%.1f%%, full $fullSec%.1f s, capped $cappedSec%.1f s")
    // COMMITTED PINS (deterministic seeded fixture — measurements, not
    // probabilities; r16 builder host): identical prefix 11, rule-set
    // overlap 81.1%, full tier 7.4 s, capped tier 2.7 s. Read: at an
    // 8.6%-token-mass truncation the divergence is real but bounded —
    // the head rules where margins exceed the dropped mass hold, ~81%
    // of the full 1000-rule set survives, and the tail differences are
    // low-margin reorderings. A production min-frequency cap drops
    // 1–3% of token mass (hapax-class types), sitting well inside
    // these margins. Asserted with slack for platform-hash wobble only.
    assert(prefix >= 8, s"head-rule stability collapsed: prefix=$prefix")
    assert(overlap >= 0.75, f"rule-set overlap $overlap%.2f below 0.75")
    // wall-time pin: both tiers are seconds-class (the tier exists so
    // an over-gate vocabulary does NOT pay 1000 distributed rounds —
    // ~0.3 s/round scheduling floor would be ~300 s here)
    assert(cappedSec < 60.0, f"capped tier took $cappedSec%.1f s — scale contract broken")
  }

  test("bpeEncodeGreedy: null text propagates null bpe_tokens/n_bpe_tokens like the fold form") {
    import graft.operators.TextAnalysis
    val df = Seq((1L, "aa ab"), (2L, null.asInstanceOf[String]), (3L, ""))
      .toDF("doc_id", "text")
    val table = Seq(("a", "a"), ("a", "_"))
    def shape(out: org.apache.spark.sql.DataFrame) =
      out.orderBy("doc_id").collect().map { r =>
        (r.getLong(0), Option(r.getSeq[String](r.fieldIndex("bpe_tokens"))),
          if (r.isNullAt(r.fieldIndex("n_bpe_tokens"))) -1L
          else r.getLong(r.fieldIndex("n_bpe_tokens")))
      }.toSeq
    val fold = shape(TextAnalysis.bpeEncode(df, "text", table))
    val greedy = shape(TextAnalysis.bpeEncodeGreedy(df, "text", table))
    assert(fold == greedy, s"null-row handling diverged:\n fold=$fold\n greedy=$greedy")
    assert(fold(1) == ((2L, None, -1L)), s"null text must yield null outputs, got ${fold(1)}")
  }

  test("bpeTrain step 1 equals the independently-oracled t22 pair-count winner") {
    val docs = Seq("aa ab", "ab", "aaa", "banana bandana")
    val df = docs.map(Tuple1(_)).toDF("text")
    val pairWinner = TextAnalysis.bpePairCounts(df, "text")
      .collect().map(r => (r.getString(0), r.getLong(1)))
      .minBy { case (p, n) => (-n, p) }
    val step1 = bpeRun(docs, 1).head
    assert(step1._2 + step1._3 == pairWinner._1 && step1._4 == pairWinner._2,
      s"step1=$step1 vs pairCounts winner=$pairWinner")
  }

  test("readability: exact word/sentence/syllable counts, clamped sentences, null grade on empty docs") {
    val df = Seq(
      (1L, "Hello world. Nice day."),
      (2L, "no punct here"),
      (3L, "")
    ).toDF("doc_id", "text")
    val got = TextAnalysis.readability(df)
      .select(col("doc_id"), col("n_words"), col("n_sentences"),
        col("n_syllables"), col("fk_grade"))
      .collect().map(r => r.getLong(0) -> r).toMap
    // doc 1: 4 ws-tokens, 2 terminator runs, vowel runs e|o|o|i,e|ay = 6
    val r1 = got(1L)
    assert((r1.getLong(1), r1.getLong(2), r1.getLong(3)) == ((4L, 2L, 6L)))
    assert(math.abs(r1.getDouble(4) - (0.39 * 2.0 + 11.8 * 1.5 - 15.59)) < 1e-12)
    // unterminated doc clamps to one sentence
    assert(got(2L).getLong(2) == 1L)
    // empty doc: zero words -> null grade, still one clamped sentence
    assert(got(3L).getLong(1) == 0L && got(3L).isNullAt(4))
  }

  test("corruptionSpans: disjoint block grid, i.i.d. mask near the rate, contiguous sentinel ids, layout-independent") {
    val docs = (0 until 200).map(i =>
      (i.toLong, (0 until 30).map(j => s"w${i}_$j").mkString(" "))).toDF("doc_id", "text")
    val spans = TextAnalysis.corruptionSpans(docs, "doc_id", "text",
      blockTokens = 3, rate = 0.15)
    val rows = spans.collect()
    // blocks are the x7 grid at stride = chunk: starts are multiples of
    // 3, lens exactly 3 on these 30-token docs — disjoint by construction
    assert(rows.forall(r => r.getAs[Int]("token_start") % 3 == 0
      && r.getAs[Int]("token_len") == 3))
    // 2000 blocks at rate 0.15: the md5 draw is i.i.d. — accept a wide band
    val frac = rows.length / 2000.0
    assert(frac > 0.10 && frac < 0.20, s"masked fraction $frac far from 0.15")
    // sentinel ids are contiguous 0..k-1 per doc in block order
    rows.groupBy(_.getAs[Long]("doc_id")).foreach { case (_, rs) =>
      val sorted = rs.sortBy(_.getAs[Int]("block_idx")).map(_.getAs[Int]("sentinel_id"))
      assert(sorted.toSeq == sorted.indices.toSeq)
    }
    // deterministic across layout
    val again = TextAnalysis.corruptionSpans(docs.repartition(7), "doc_id", "text",
      blockTokens = 3, rate = 0.15)
      .collect().map(r => (r.getLong(0), r.getAs[Int]("block_idx"))).toSet
    assert(again == rows.map(r => (r.getLong(0), r.getAs[Int]("block_idx"))).toSet)
  }

  test("wordDropout: order-preserving subsequence, rate-0/1 degenerate, near-rate drops, layout-independent") {
    // tokens must SURVIVE normalize (which strips underscores) — the
    // committed t24 oracle replays normalize-tokenization, so the spec
    // fixture has to live inside [a-z0-9] to compare verbatim
    val docs = (0 until 100).map(i =>
      (i.toLong, (0 until 40).map(j => s"tok${i}x$j").mkString(" "))).toDF("doc_id", "text")
    val out = TextAnalysis.wordDropout(docs, "doc_id", "text", rate = 0.1).collect()
    out.foreach { r =>
      val kept = r.getAs[String]("kept_text").split(" ").filter(_.nonEmpty)
      assert(kept.length == r.getAs[Long]("n_kept"))
      // kept tokens are an ORDERED subsequence of the original
      val orig = (0 until 40).map(j => s"tok${r.getLong(0)}x$j")
      assert(kept.foldLeft(0) { (from, t) =>
        val at = orig.indexOf(t, from); assert(at >= 0, s"$t out of order"); at + 1
      } >= 0)
    }
    val dropped = 1.0 - out.map(_.getAs[Long]("n_kept")).sum.toDouble / 4000.0
    assert(dropped > 0.06 && dropped < 0.14, s"drop fraction $dropped far from 0.1")
    // degenerate rates
    val all = TextAnalysis.wordDropout(docs, "doc_id", "text", rate = 0.0).collect()
    assert(all.forall(r => r.getAs[Long]("n_kept") == 40L))
    val none = TextAnalysis.wordDropout(docs, "doc_id", "text", rate = 1.0).collect()
    assert(none.forall(r => r.getAs[Long]("n_kept") == 0L && r.getAs[String]("kept_text") == ""))
    // deterministic across layout
    val again = TextAnalysis.wordDropout(docs.repartition(7), "doc_id", "text", rate = 0.1)
      .collect().map(r => r.getLong(0) -> r.getAs[String]("kept_text")).toMap
    assert(again == out.map(r => r.getLong(0) -> r.getAs[String]("kept_text")).toMap)
  }

  test("semDedup: keeps the least-central duplicate, ties to smaller id, cross-cluster pairs blind (SemDeDup contract)") {
    val cents = Seq(
      (0L, Seq(1f, 0f, 0f, 0f)),
      (1L, Seq(0f, 1f, 0f, 0f))).toDF("centroid_id", "centroid_vec")
    val emb = Seq(
      (10L, Seq(1f, 0f, 0f, 0f)),     // cluster 0, most central; dup of 11
      (11L, Seq(0.9f, 0.1f, 0f, 0f)), // cluster 0, less central — the paper keeps THIS one
      (12L, Seq(0.6f, 0.2f, 0.2f, 0f)), // cluster 0, below threshold vs everyone
      (20L, Seq(0f, 1f, 0f, 0f)),     // cluster 1
      (30L, Seq(0f, 1f, 0f, 0f)),     // identical to 20: centroid-cos ties, smaller id (20) wins
      (40L, Seq(0.72f, 0.69f, 0f, 0f)), // cluster 0 ...
      (41L, Seq(0.69f, 0.72f, 0f, 0f))  // ... cluster 1: cos(40,41)≈0.999 but never compared
    ).toDF("vec_id", "embedding")
    val out = Dedup.semDedup(emb, cents, "vec_id", "embedding", threshold = 0.95)
    assert(out.count() == 7, "every input row gets a verdict")
    val keep = out.filter(col("keep")).select("vec_id").as[Long].collect().toSet
    assert(keep == Set(11L, 12L, 20L, 40L, 41L),
      s"drop the central dup (10) and the larger-id twin (30): got $keep")
    // the near-identical straddling pair lands in different clusters —
    // SemDeDup's published blindness, pinned so a refactor that starts
    // comparing across clusters (quadratic!) fails loudly
    val lists = out.select(col("vec_id"), col("list_id")).as[(Long, Long)]
      .collect().toMap
    assert(lists(40L) == 0L && lists(41L) == 1L)
  }

  test("lineDedupStats: shared lines counted per occurrence, empties dropped, unique bodies clean") {
    val docs = Seq(
      (1L, "unique body one\nSHARED FOOTER\n\n  \nSHARED FOOTER"), // footer twice -> 2 dup lines
      (2L, "unique body two\nSHARED FOOTER"),
      (3L, "unique body three"),
      (4L, "  SHARED FOOTER  ") // trims to the shared line
    ).toDF("doc_id", "text")
    val got = Dedup.lineDedupStats(docs, "doc_id", "text")
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(got(1L) == ((3L, 2L)), s"doc 1: 3 non-empty lines, footer twice: $got")
    assert(got(2L) == ((2L, 1L)))
    assert(got(3L) == ((1L, 0L)))
    assert(got(4L) == ((1L, 1L)))
  }

  test("lineDedupStats: minDocs raises the sharing bar") {
    val docs = Seq(
      (1L, "a\nb"), (2L, "a"), (3L, "a")
    ).toDF("doc_id", "text")
    // 'a' is in 3 docs, 'b' in 1 — at minDocs=3 only 'a' is dup
    val got = Dedup.lineDedupStats(docs, "doc_id", "text", minDocs = 3)
      .collect().map(r => r.getLong(0) -> r.getLong(2)).toMap
    assert(got == Map(1L -> 1L, 2L -> 1L, 3L -> 1L))
    val at4 = Dedup.lineDedupStats(docs, "doc_id", "text", minDocs = 4)
      .agg(sum(col("n_dup_lines"))).collect()(0).getLong(0)
    assert(at4 == 0L)
  }

  test("gopherRules: integer signals count exactly; gate replays the cross-multiplied thresholds") {
    // 50 stopwords (140 chars) + 10 'wonderful' (90 chars): 60 words,
    // 230 word-chars -> mean 3.83 in [3,10]; every other rule green too
    val pass = ("the and of to in is that with for was " * 5) +
      ("wonderful " * 10).trim
    val docs = Seq(
      (1L, pass),                                   // 60 words, all rules green
      (2L, "too short to pass"),                    // word-count floor
      (3L, ("xx " * 60).trim),                      // mean word len 2 < 3, no stopwords
      (4L, "- bullet\n- bullet\nbody…\nend...")     // bullet/ellipsis counting
    ).toDF("doc_id", "text")
    val got = TextAnalysis.gopherRules(docs, "text")
      .select("doc_id", "n_words", "n_bullet_lines", "n_ellipsis_lines",
        "n_symbols", "n_stop_hits", "gopher_ok")
      .collect().map(r => r.getLong(0) -> r).toMap
    assert(got(1L).getAs[Boolean]("gopher_ok"), "doc 1 passes every rule")
    assert(got(1L).getAs[Long]("n_words") == 60L)
    assert(got(1L).getAs[Long]("n_stop_hits") == 50L)
    assert(!got(2L).getAs[Boolean]("gopher_ok"), "word-count floor")
    assert(!got(3L).getAs[Boolean]("gopher_ok"), "mean-word-length floor")
    val d4 = got(4L)
    assert(d4.getAs[Long]("n_bullet_lines") == 2L)
    assert(d4.getAs[Long]("n_ellipsis_lines") == 2L, "… and ... both count")
    assert(d4.getAs[Long]("n_symbols") == 1L, "the … is a symbol; ASCII dots are not")
  }

  test("prefixFilterPairs equals the brute-force threshold join on random near-dup corpora") {
    import spark.implicits._
    // deterministic corpus with planted near-dups: doc 3i+1 is doc 3i
    // with one word swapped (Jaccard >> 0.5), doc 3i+2 is unrelated
    val words = Vector("alpha", "beta", "gamma", "delta", "epsilon", "zeta",
      "eta", "theta", "iota", "kappa", "lam", "mu")
    def text(seed: Int, n: Int) =
      (0 until n).map(j => words(((seed * 31 + j * 17) % 997) % words.size)).mkString(" ")
    val docs = (0 until 20).flatMap { i =>
      val base = text(i, 12)
      Seq((3L * i, base),
        (3L * i + 1, base.split(" ").updated(5, "swapped").mkString(" ")),
        (3L * i + 2, text(i + 1000, 12)))
    }.toDF("doc_id", "text")
    val got = Dedup.prefixFilterPairs(docs, "doc_id", "text", tNum = 1, tDen = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // brute force over all pairs with the same shingle semantics
    val rows = docs.collect().map(r => r.getLong(0) ->
      TextAnalysisTestSupport.shingleSet(r.getString(1))).toMap
    val want = (for {
      a <- rows.keys; b <- rows.keys; if a < b
      sa = rows(a); sb = rows(b)
      j = sa.intersect(sb).size.toDouble / sa.union(sb).size.toDouble
      if j >= 0.5
    } yield (a, b)).toSet
    assert(got == want, s"exact recall broke:\n got=$got\n want=$want")
    assert(want.size >= 20, "the planted twins must actually qualify")
  }

  test("nfc: composes decomposed sequences, idempotent, JDK-parity, unifies fingerprints") {
    import spark.implicits._
    // e + combining acute (U+0301) composes to U+00E9; precomposed form
    // is a fixed point; ASCII untouched; Hangul jamo compose to a
    // syllable (the multi-char canonical-composition case).
    // Escapes, not raw chars: immune to editor/tooling normalization.
    val cases = Seq(
      "cafe\u0301",          // e + combining acute (decomposed)
      "caf\u00e9",           // precomposed
      "plain ascii 123",
      "\u1100\u1161\u11a8", // jamo G+A+K -> syllable U+AC01
      "A\u030a",             // A + combining ring -> U+00C5
      "")
    val got = cases.toDF("s")
      .select(operators.TextAnalysis.nfc(col("s")).as("n"))
      .collect().map(_.getString(0)).toSeq
    val want = cases.map(java.text.Normalizer.normalize(_, java.text.Normalizer.Form.NFC))
    assert(got == want, "column output must match the JDK normalizer exactly")
    assert(got.head == "caf\u00e9" && got.head == got(1),
      "decomposed and precomposed forms must converge byte-for-byte")
    assert(got(3) == "\uac01" && got(4) == "\u00c5")
    // idempotence: NFC(NFC(x)) == NFC(x), through the column twice
    val twice = cases.toDF("s")
      .select(operators.TextAnalysis.nfc(operators.TextAnalysis.nfc(col("s"))).as("n"))
      .collect().map(_.getString(0)).toSeq
    assert(twice == want)
    // the motivating property: md5 fingerprints unify after nfc, split before
    val fps = Seq("cafe\u0301", "caf\u00e9").toDF("s")
      .select(md5(col("s").cast("binary")).as("raw"),
        md5(operators.TextAnalysis.nfc(col("s")).cast("binary")).as("n"))
      .collect()
    assert(fps(0).getString(0) != fps(1).getString(0), "raw fingerprints must differ")
    assert(fps(0).getString(1) == fps(1).getString(1), "nfc fingerprints must unify")
    // SQL-registered twin is the same native expression
    GraftSqlApi.init(spark, "/root/testdata/sf0.001")
    val viaSql = spark.sql(
      "SELECT nfc_normalize('cafe\\u0301')").collect()(0).getString(0)
    assert(viaSql == "caf\u00e9")
  }

  test("bm25Rank: both-term doc outranks one-term doc; non-matching doc dropped") {
    val docs = Seq(
      (1L, "Spark spark JOIN!"),   // dl=3, tf(spark)=2, tf(join)=1
      (2L, "spark filter"),        // dl=2, tf(spark)=1
      (3L, "table scan merge")     // no query terms -> dropped
    ).toDF("doc_id", "text")
    val rows = TextAnalysis
      .bm25Rank(docs, "doc_id", "text", Seq("spark", "join"))
      .orderBy("rk")
      .as[(Long, Long, Double, Int)].collect().toSeq
    assert(rows.map(_._1) == Seq(1L, 2L))
    assert(rows.map(_._2) == Seq(3L, 2L)) // dl
    assert(rows(0)._3 > rows(1)._3 && rows(1)._3 > 0.0)
    assert(rows.map(_._4) == Seq(1, 2))
    // hand-checked idf quantization for the rarer term: N=3, df(join)=1
    // -> floor(65536*ln(1 + 2.5/1.5)) = 64279; a doc-1-only contribution
    // so its score strictly exceeds any spark-only score.
    val idfJoin = math.floor(65536.0 * math.log(1.0 + 2.5 / 1.5)).toLong
    assert(idfJoin == 64279L)
  }

  test("bigramCrossEntropy: hand-computed add-one bigram model, integer scores, no-bigram doc zeroed") {
    // corpus bigrams: "a b"x2 (doc1), "b a" x1 (doc1) + x1 (doc2)
    // ctx totals: a->2, b->2; V=2 -> p = (2+1)/(2+2) = 0.75 for both
    // q = floor(65536*ln(0.75)) = floor(-18853.54...) = -18854
    val docs = Seq((1L, "a b a b"), (2L, "b a"), (3L, "x"))
      .toDF("doc_id", "text")
    val rows = TextAnalysis.bigramCrossEntropy(docs, "doc_id", "text")
      .orderBy("doc_id").as[(Long, Long, Long)].collect().toSeq
    val q = math.floor(65536.0 * math.log(0.75)).toLong
    assert(q == -18854L)
    assert(rows == Seq((1L, 3L, 3 * q), (2L, 1L, q), (3L, 0L, 0L)))
  }

  test("bm25Rank: identical docs tie on score, rank by doc_id; topK truncates") {
    val docs = Seq(
      (5L, "spark run"), (2L, "spark run"), (9L, "spark run"))
      .toDF("doc_id", "text")
    val rows = TextAnalysis
      .bm25Rank(docs, "doc_id", "text", Seq("spark"), topK = 2)
      .orderBy("rk")
      .as[(Long, Long, Double, Int)].collect().toSeq
    assert(rows.map(_._1) == Seq(2L, 5L)) // tie -> doc_id asc, truncated to 2
    assert(rows(0)._3 == rows(1)._3)
  }
}

/** Scala-side twin of the 3-shingle semantics for brute-force checks. */
object TextAnalysisTestSupport {
  def shingleSet(text: String): Set[String] = {
    val toks = text.toLowerCase.replaceAll("[^a-z0-9\\s]", "").trim
      .split("\\s+").toSeq.filter(_ => true)
    if (toks.size < 3) Set(toks.mkString(" "))
    else toks.sliding(3).map(_.mkString(" ")).toSet
  }
}
