package graft.ops

import graft.SparkSpec
import org.apache.spark.sql.functions._

class DedupTextSpec extends SparkSpec {
  import spark.implicits._

  private val docs = Seq(
    (1L, "the quick brown fox jumps over the lazy dog", "en"),
    (2L, "the quick brown fox jumps over the lazy dog", "en"),  // exact dup of 1
    (3L, "the quick brown fox leaps over the lazy dog", "en"),  // near dup
    (4L, "der schnelle braune fuchs ist und das war gut", "de"),
    (5L, "completely different words entirely here now thanks", "en")
  ).toDF("doc_id", "text", "lang")

  test("exactGroups: identical texts share a digest, keeper is min id") {
    val g = Dedup.exactGroups(docs, "doc_id", "text")
    assert(g.count() == 4) // 1&2 collapse
    val dup = g.where($"n_docs" === 2).head()
    assert(dup.getAs[Long]("keeper_id") == 1L)
  }

  test("minhash candidates find exact and near dups, not unrelated docs") {
    val pairs = Dedup.minhashCandidatePairs(docs, "doc_id", "text")
      .as[(Long, Long)].collect().toSet
    assert(pairs.contains((1L, 2L))) // identical → all bands collide
    assert(!pairs.exists(p => p._1 == 5L || p._2 == 5L)) // unrelated doc
  }

  test("simhash: identical texts get identical hashes, near-dups are close") {
    val h = docs.select($"doc_id", Dedup.simhash16($"text").as("h"))
      .as[(Long, Long)].collect().toMap
    assert(h(1L) == h(2L))
    def hamming(a: Long, b: Long) = java.lang.Long.bitCount(a ^ b)
    assert(hamming(h(1L), h(3L)) <= hamming(h(1L), h(5L)))
  }

  test("block-permuted simhash banding = pigeonhole banding, exactly") {
    // same pair set on the spec corpus (the exact-cover argument says the
    // outputs are identical for ANY input; this pins the implementation)
    val pigeon = Dedup.simhashNearDupPairs(docs, "doc_id", "text")
      .as[(Long, Long, Long)].collect().toSet
    val blocked = Dedup.simhashNearDupPairsBlocked(docs, "doc_id", "text")
      .as[(Long, Long, Long)].collect().toSet
    assert(blocked === pigeon)
    assert(pigeon.exists(p => p._1 == 1L && p._2 == 2L)) // exact dup found
    // parameter guard
    intercept[IllegalArgumentException](
      Dedup.simhashNearDupPairsBlocked(docs, "doc_id", "text", blocks = 3))
  }

  test("ngramJaccard: exact dup has jaccard 1.0 within block") {
    val p = Dedup.ngramJaccardPairs(docs, "doc_id", "text", "lang")
      .where($"id_a" === 1 && $"id_b" === 2).head()
    assert(p.getAs[Double]("jaccard") == 1.0)
  }

  test("tokens/tokenCount handle multi-space and empties") {
    val df = Seq("  a  b   c ", "").toDF("t")
    val out = df.select(Text.tokenCount($"t").as("n")).as[Int].collect()
    assert(out.toSeq == Seq(3, 0))
  }

  test("cleanText: NFC-composes, strips non-whitespace control chars, " +
    "collapses whitespace runs, trims; already-clean ASCII is identity") {
    val df = Seq(
      "Cafe\u0301 au lait",            // decomposed -> composed
      "a\u0001b\u0007 c",              // non-ws C0 controls stripped
      "  a \t b\n\nc  ",              // runs collapse, edges trim
      "already clean ascii",
      "page\u000Cfeed\u000Bbreak"      // VT/FF SEPARATE words, not merge
    ).toDF("t")
    val out = df.select(Text.cleanText($"t").as("c")).as[String].collect()
    assert(out(0) === "Caf\u00e9 au lait")
    assert(out(1) === "ab c")
    assert(out(2) === "a b c")
    assert(out(3) === "already clean ascii")
    assert(out(4) === "page feed break",
      "whitespace-class controls must become spaces, not deletions")
    // the native expression behind it: already-NFC input returns the
    // SAME UTF8String (the ASCII hot path never re-materializes)
    val s = org.apache.spark.unsafe.types.UTF8String.fromString("plain")
    assert(graft.functions.NfcNormalize.normalize(s) eq s)
    assert(graft.functions.NfcNormalize
      .normalize(org.apache.spark.unsafe.types.UTF8String
        .fromString("é")).toString === "é")
  }

  test("classifierScore: mean-weight linear gate — empty/OOV text scores " +
    "the bias point, positive vocab lifts above 0.5, OOV tokens dilute") {
    val w = Map("good" -> 1.0, "bad" -> -1.0)
    val df = Seq(
      ("", 1), ("zzz qqq", 2), ("good good", 3), ("bad", 4),
      ("good zzz zzz zzz", 5)).toDF("t", "i")
    val out = df
      .select($"i", Text.classifierScore($"t", w, bias = 0.0).as("s"))
      .as[(Int, Double)].collect().toMap
    assert(out(1) === 0.5 && out(2) === 0.5) // no signal → bias point
    assert(out(3) > 0.5 && out(4) < 0.5)
    assert(out(5) > 0.5 && out(5) < out(3),
      "OOV tokens dilute the mean toward the bias point")
    // bias shifts the decision point; empty weight table is rejected
    val b = df.where($"i" === 1)
      .select(Text.classifierScore($"t", w, bias = 2.0).as("s"))
      .as[Double].head()
    assert(b > 0.5)
    intercept[IllegalArgumentException](
      Text.classifierScore($"t", Map.empty, 0.0))
  }

  test("nbTrain/nbModel: Laplace-smoothed NB weights separate a planted " +
    "seed/crawl fixture end to end through classifierScore") {
    // seed class: research-register tokens; crawl class: spam-register.
    // 'shared' appears equally in both — its weight must sit near 0.
    val docs = Seq(
      (1L, "science research method shared", true),
      (2L, "research data method shared", true),
      (3L, "science method data", true),
      (4L, "click buy now shared", false),
      (5L, "buy cheap click shared", false),
      (6L, "click now cheap", false)).toDF("doc_id", "text", "seed")
    val table = Text.nbTrain(docs, "text", $"seed")
      .as[(String, Long, Long, Long)].collect()
      .map(r => r._1 -> ((r._2, r._3, r._4))).toMap
    // counts: 'research' 2/0, 'click' 0/3, 'shared' 2/2
    assert(table("research")._1 === 2L && table("research")._2 === 0L)
    assert(table("click")._1 === 0L && table("click")._2 === 3L)
    assert(table("research")._3 > 0L && table("click")._3 < 0L)
    // balanced classes and equal counts: |w(shared)| small vs the others
    assert(math.abs(table("shared")._3) < table("research")._3 / 4)
    // hand-check one weight: w = ln((c_s+1)/(T_s+V)) - ln((c_c+1)/(T_c+V)),
    // quantized each side; T_s=11, T_c=11, V=9
    val expected =
      (math.floor(math.log(3.0 / 20.0) * 1e9 + 0.5) -
        math.floor(math.log(1.0 / 20.0) * 1e9 + 0.5)).toLong
    assert(table("research")._3 === expected)
    // the collected model drives classifierScore: unseen docs of each
    // register land on the right side of 0.5
    val (w, bias) = Text.nbModel(docs, "text", $"seed")
    assert(bias === 0.0) // balanced doc priors
    val scores = Seq(("research method data", 1), ("buy click cheap", 2))
      .toDF("t", "i")
      .select($"i", Text.classifierScore($"t", w, bias).as("s"))
      .as[(Int, Double)].collect().toMap
    assert(scores(1) > 0.5 && scores(2) < 0.5)
    // single-class input is rejected loudly
    intercept[IllegalArgumentException](
      Text.nbModel(docs.where($"seed"), "text", $"seed"))
  }

  test("langId picks marker language, und when none") {
    val df = Seq(
      "the cat and the hat is here",
      "der hund und die katze ist das",
      "zzz qqq xxx").toDF("text")
    val out = df.select(Text.langId($"text").as("l")).as[String].collect()
    assert(out.toSeq == Seq("en", "de", "und"))
  }

  test("unigramLogProb: common-token docs score higher; exact tiny-corpus value") {
    // corpus: 4 tokens total — "a" 3 times (p=3/4), "z" once (p=1/4)
    val docs = Seq((1L, "a a a"), (2L, "z")).toDF("doc_id", "text")
    val out = Text.unigramLogProb(docs, "doc_id", "text")
      .as[(Long, Long, Double)].collect().map(r => r._1 -> ((r._2, r._3))).toMap
    assert(out(1L)._1 === 3L && out(2L)._1 === 1L)
    assert(math.abs(out(1L)._2 - math.log(0.75)) < 1e-5)
    assert(math.abs(out(2L)._2 - math.log(0.25)) < 1e-5)
    assert(out(1L)._2 > out(2L)._2) // in-distribution doc scores higher
  }

  test("dsirLogRatio: target-like docs score above out-of-distribution docs") {
    val out = Text.dsirLogRatio(docs, "doc_id", "text",
      docs.where($"doc_id" === 1))
      .as[(Long, Long, Double)].collect().map(r => r._1 -> r._3).toMap
    // doc 2 is a verbatim copy of the target doc; doc 5 shares no tokens
    assert(out(2L) > out(5L))
    assert(out(2L) > 0.0) // looks MORE like the target than like the pool
    assert(out(5L) < 0.0) // penalized: none of its tokens appear in target
  }

  test("fingerprint is whitespace/case invariant") {
    val df = Seq("Hello   World", "hello world").toDF("t")
    val fps = df.select(Text.fingerprint($"t")).as[String].collect()
    assert(fps(0) == fps(1))
  }

  test("cosine of a vector with itself is 1.0") {
    val df = Seq((Seq(1.0f, 2.0f, 3.0f), Seq(1.0f, 2.0f, 3.0f)))
      .toDF("a", "b")
    val c = df.select(Similarity.cosine($"a", $"b").as("c")).as[Double].head()
    assert(math.abs(c - 1.0) < 1e-12)
  }

  test("bruteForceTopK ranks the most similar vector first") {
    val vecs = Seq(
      (0L, Seq(1.0f, 0.0f)),
      (1L, Seq(0.9f, 0.1f)),
      (2L, Seq(0.0f, 1.0f))).toDF("vec_id", "embedding")
    val top = Similarity.bruteForceTopK(
      vecs.where($"vec_id" === 0), vecs, "vec_id", "embedding", 2)
      .orderBy("rank").select("neighbor_id").as[Long].collect()
    assert(top.toSeq == Seq(1L, 2L))
  }

  test("simhashNearDupPairs: exact dups pair at hamming 0, unrelated don't") {
    val docs = Seq(
      (1L, "alpha beta gamma delta epsilon"),
      (2L, "alpha beta gamma delta epsilon"), // exact dup of 1
      (3L, "zq xv wk jm pn qr st uv")).toDF("doc_id", "text")
    val pairs = Dedup.simhashNearDupPairs(docs, "doc_id", "text")
      .select("id_a", "id_b", "hamming")
      .as[(Long, Long, Long)].collect()
    assert(pairs.exists(p => p._1 == 1L && p._2 == 2L && p._3 == 0L))
    assert(!pairs.exists(p => p._2 == 3L))
  }

  test("cosineNearDupPairs finds colinear vectors above threshold") {
    val vecs = Seq(
      (0L, Seq(1.0f, 0.0f, 0.0f)),
      (1L, Seq(2.0f, 0.0f, 0.0f)),  // colinear with 0 → cosine 1.0
      (2L, Seq(0.0f, 1.0f, 0.0f))).toDF("vec_id", "embedding")
    val pairs = Similarity.cosineNearDupPairs(vecs, "vec_id", "embedding", 0.9)
      .select("id_a", "id_b").as[(Long, Long)].collect()
    assert(pairs.contains((0L, 1L)))
    assert(!pairs.exists(p => p._1 == 2L || p._2 == 2L))
  }

  test("cosineIncrementalCandidates = full-run pairs touching the batch") {
    // deterministic pseudo-random vectors; near-dups = scaled copies
    def v(seed: Int): Seq[Float] =
      (0 until 8).map(i => (((seed * 31 + i * 17) % 13) - 6).toFloat)
    val all = (
      (0L until 6L).map(id => (id, v(id.toInt))) ++          // corpus
        Seq((10L, v(2)map(_ * 2f)),                          // dup of corpus 2
          (11L, v(11)), (12L, v(11).map(_ * 3f)),            // in-batch dup pair
          (13L, v(4).map(_ * 0.5f)))                         // dup of corpus 4
      ).toDF("vec_id", "embedding")
    val corpus = all.where($"vec_id" < 10)
    val batch = all.where($"vec_id" >= 10)
    val full = Similarity.cosineNearDupPairs(all, "vec_id", "embedding", 0.9)
      .select("id_a", "id_b", "score")
      .as[(Long, Long, Double)].collect().toSet
    val stored = Similarity.srpTable(corpus, "vec_id", "embedding")
    val incr = Similarity.cosineIncrementalCandidates(
      batch, "vec_id", "embedding", stored, 0.9)
      .as[(Long, Long, Double)].collect().toSet
    val batchIds = Set(10L, 11L, 12L, 13L)
    val expected = full.filter(p => batchIds(p._1) || batchIds(p._2))
    assert(incr === expected)
    assert(expected.nonEmpty)
    assert(expected.exists(p => p._1 < 10L), "must exercise the new×stored leg")
  }

  test("rowsPerBandFor: S-curve knee tracks the threshold") {
    // shipped defaults: 8 hashes, t=0.5 → r=2 (knee (1/4)^(1/2) = 0.5)
    assert(Dedup.rowsPerBandFor(0.5, 8) === 2)
    // high threshold wants longer bands (fewer, stricter collisions) ...
    assert(Dedup.rowsPerBandFor(0.9, 8) > Dedup.rowsPerBandFor(0.3, 8))
    // ... and a bigger budget refines the knee without moving it far
    val r128 = Dedup.rowsPerBandFor(0.5, 128)
    val knee = math.pow(1.0 / (128 / r128), 1.0 / r128)
    assert(math.abs(knee - 0.5) < 0.15, s"knee $knee for r=$r128")
  }

  test("numPlanesFor: log2 bucket-density law, floor 1") {
    assert(Similarity.numPlanesFor(200000L, 200L) === 10)
    assert(Similarity.numPlanesFor(200000L) === 10) // default target 256
    assert(Similarity.numPlanesFor(2000L, 256L) === 3)
    assert(Similarity.numPlanesFor(10L, 256L) === 1)
    // planes grow by ~log2 per decade of corpus
    assert(Similarity.numPlanesFor(2000000L) - Similarity.numPlanesFor(200000L) >= 3)
    // exact-integer breakpoints (n = 256·2^k): the TRUE log2 ratio is an
    // integer, where un-nudged libm ceils could land on either side per
    // engine. CeilEps pins the value to the mathematical ceil here and
    // keeps +1 one row later — the DuckDB twins mirror the same nudge.
    assert(Similarity.numPlanesFor(256L * 1024L) === 10)
    assert(Similarity.numPlanesFor(256L * 1024L + 1L) === 11)
    assert(Similarity.numPlanesFor(256L * 2L) === 1)
    assert(Similarity.numPlanesFor(256L * 4L) === 2)
  }

  test("kmeansFitSampled: deterministic hash-sample trainer — frac=1 is " +
    "exactly kmeansFit, a 20% sample recovers the planted clusters and " +
    "its full-corpus assignment matches the full-trained model") {
    // three tight direction-clusters, ids interleaved mod 3 so any hash
    // sample draws from all of them
    val vecs = (0 until 300).map { i =>
      val c = i % 3
      val base = Seq.tabulate(3)(j => if (j == c) 1.0f else 0.0f)
      (i.toLong, base.zipWithIndex.map { case (x, j) =>
        x + 0.02f * ((i + j) % 4) })
    }.toDF("vec_id", "embedding")
    vecs.cache(); vecs.count()

    // hashSampled: deterministic, map-side, ~frac of rows; frac>=1 is
    // the corpus itself (the 8-hex-char bound cannot express 2^32)
    val s1 = Similarity.hashSampled(vecs, "vec_id", 0.2)
      .select("vec_id").as[Long].collect().toSet
    val s2 = Similarity.hashSampled(vecs, "vec_id", 0.2)
      .select("vec_id").as[Long].collect().toSet
    assert(s1 === s2)
    assert(s1.size > 30 && s1.size < 90, s"20% of 300: got ${s1.size}")
    assert(Similarity.hashSampled(vecs, "vec_id", 1.0).count() === 300)
    // a different seed draws a different (still deterministic) sample
    assert(Similarity.hashSampled(vecs, "vec_id", 0.2, "km2:")
      .select("vec_id").as[Long].collect().toSet !== s1)

    val full = Similarity.kmeansFit(vecs, "vec_id", "embedding", 3, 4)
    assert(Similarity.kmeansFitSampled(vecs, "vec_id", "embedding", 3, 4,
      frac = 1.0) === full)
    val sampled = Similarity.kmeansFitSampled(vecs, "vec_id", "embedding",
      3, 4, frac = 0.2)
    assert(sampled ===
      Similarity.kmeansFitSampled(vecs, "vec_id", "embedding", 3, 4, 0.2))
    assert(sampled.size === 3)
    // quality: sample-trained centroids assign the FULL corpus into the
    // same partition as full-trained ones (cells may be renamed; the
    // grouping must agree), and inertia degrades by at most 5%
    def partition(model: Seq[(Long, Seq[Double])]): Map[Long, Set[Long]] =
      Similarity.withCell(vecs, "vec_id", "embedding", model)
        .select(col("vec_id").cast("long"), col("_cell").cast("long"))
        .as[(Long, Long)].collect()
        .groupBy(_._2).map { case (c, xs) => c -> xs.map(_._1).toSet }
    assert(partition(sampled).values.toSet === partition(full).values.toSet,
      "sample-trained model must induce the same clustering")
    val iFull = Similarity.inertia(vecs, "vec_id", "embedding", full)
    val iSampled = Similarity.inertia(vecs, "vec_id", "embedding", sampled)
    assert(iSampled <= iFull * 1.05,
      f"sampled-trainer inertia $iSampled%.4f vs full $iFull%.4f")
  }

  test("denser SRP points only DROP pairs: bucket bits are prefixes, so " +
    "pairs@6 planes is a subset of pairs@4 planes") {
    val emb = spark.read
      .parquet("/root/testdata/sf0.001/embeddings.parquet")
    val p4 = Similarity.cosineNearDupPairs(emb, "vec_id", "embedding", 0.4, 4)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    val p6 = Similarity.cosineNearDupPairs(emb, "vec_id", "embedding", 0.4, 6)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(p4.nonEmpty)
    assert(p6.subsetOf(p4),
      s"6-plane pairs not a subset: ${(p6 -- p4).take(5)}")
  }

  test("cosineNearDupPairsBanded: one band = the single-table pairs; " +
    "more bands only ADD verified pairs (recall lifts, no false positives)") {
    val emb = spark.read
      .parquet("/root/testdata/sf0.001/embeddings.parquet").cache()
    val single = Similarity
      .cosineNearDupPairs(emb, "vec_id", "embedding", 0.4, 3)
      .as[(Long, Long, Double)].collect().toSet
    // band 0 hashes planes 0..2 — identical table to single-table p=3
    val one = Similarity
      .cosineNearDupPairsBanded(emb, "vec_id", "embedding", 0.4, 3, 1)
      .as[(Long, Long, Double)].collect().toSet
    assert(one === single)
    val four = Similarity
      .cosineNearDupPairsBanded(emb, "vec_id", "embedding", 0.4, 3, 4)
      .as[(Long, Long, Double)].collect().toSet
    assert(single.subsetOf(four), "banding lost a band-0 pair")
    assert(four.size > single.size,
      "OR-ing 3 more bands recovered no new pairs on this corpus")
    assert(four.forall(_._3 >= 0.4), "unverified candidate leaked through")
    emb.unpersist(); ()
  }

  /** Deterministic planted-near-dup fixture: the sf0.001 embeddings plus
    * a twin at exactly cos `targetCos` for every 5th vector —
    * v' = |v|(v_hat cos θ + g_hat sin θ) with g the orthogonalized md5
    * ±1 pattern (same construction as tools/gen_neardup.py, "plant:"
    * namespace ≠ the SRP planes'). Everything is deterministic, so
    * recalls measured on it are constants of the code, not samples.
    * Returns (corpus with twins, truth pair set).
    */
  private def plantedFixture(targetCos: Double)
      : (org.apache.spark.sql.DataFrame, Set[(Long, Long)]) = {
    val base = spark.read
      .parquet("/root/testdata/sf0.001/embeddings.parquet")
      .select("vec_id", "embedding").as[(Long, Seq[Float])].collect()
    def sign(vid: Long, i: Int): Double = {
      val hex = java.security.MessageDigest.getInstance("MD5")
        .digest(s"plant:$vid:$i".getBytes("UTF-8"))
        .map("%02x".format(_)).mkString
      if (hex.charAt(0) >= '8') 1.0 else -1.0
    }
    val planted = base.zipWithIndex.collect { case ((vid, v), idx)
        if idx % 5 == 0 =>
      val vd = v.map(_.toDouble).toArray
      val nv = math.sqrt(vd.map(x => x * x).sum)
      val vh = vd.map(_ / nv)
      val p = Array.tabulate(vd.length)(sign(vid, _))
      val pv = p.zip(vh).map { case (a, b) => a * b }.sum
      val g = p.zip(vh).map { case (a, b) => a - pv * b }
      val ng = math.sqrt(g.map(x => x * x).sum)
      val gh = g.map(_ / ng)
      val s = math.sqrt(1 - targetCos * targetCos)
      val v2 = vh.zip(gh).map { case (a, b) =>
        (nv * (a * targetCos + b * s)).toFloat }
      (vid, vid + 10000L, v2.toSeq)
    }
    val corpus = (base ++ planted.map(t => (t._2, t._3)))
      .toSeq.toDF("vec_id", "embedding")
      .select(col("vec_id"), col("embedding").cast("array<float>"))
    (corpus, planted.map(t => (t._1, t._2)).toSet)
  }

  test("banded 8x7 holds a recall floor at the PRODUCTION operating point " +
    "(t >= 0.9) on PLANTED true near-duplicates") {
    // The synthetic corpus has no pairs above cos 0.9 (round-7 SCALE.md),
    // so the production point was model-priced until round 8. This pins
    // the MEASURED behavior: sf1 measured 0.9855 at 8×p7
    // (PlantedRecallBench, SCALE.md round 8); at cos 0.95 the SRP model
    // gives per-plane c ≈ 0.899, c⁷ ≈ 0.47, 1−(1−c⁷)⁸ ≈ 0.994. Floor at
    // 0.85 leaves slack for corpus/dim differences, none for a broken
    // operator (single-table p7 measures ~0.45 — a banding regression to
    // it fails the floor immediately).
    val (corpusDf, truth) = plantedFixture(0.95)
    val corpus = corpusDf.cache()
    val pairs = Similarity.cosineNearDupPairsBanded(
      corpus, "vec_id", "embedding", 0.9, 7, 8)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    val recall = truth.count(pairs.contains).toDouble / truth.size
    assert(truth.size === 100)
    assert(recall >= 0.85,
      f"banded 8x7 recall at t>=0.9 on planted twins: $recall%.3f under " +
        "the 0.85 floor (sf1 measured 0.9855; model ~0.99)")
    // the verify step keeps false positives out: every emitted pair
    // must clear the threshold against the stored floats
    val scored = Similarity.cosineNearDupPairsBanded(
      corpus, "vec_id", "embedding", 0.9, 7, 8)
      .as[(Long, Long, Double)].collect()
    assert(scored.forall(_._3 >= 0.9), "unverified candidate leaked through")
    corpus.unpersist(); ()
  }

  test("bandsFor: the recall-SLA selector reproduces both planted-recall " +
    "measurement points and the model floors them") {
    // The selector codifies SCALE.md round 8's production rule: at the
    // sf1 planted corpus (n = 22k) a 0.95 SLA at t = 0.9 picks EXACTLY
    // the measured 8×p7 point (which delivered 0.9855); a decade up
    // (n = 220k) the law moves planes 7 → 10, fixed L = 8 measured
    // 0.9417 — UNDER the SLA — and the selector grows the bands instead.
    assert(Similarity.bandsFor(0.9, 0.95, 22000L) === ((7, 8)))
    val (p10, l10) = Similarity.bandsFor(0.9, 0.95, 220000L)
    assert(p10 === 10)
    assert(l10 === 13, s"expected 13 bands at the 220k decade, got $l10")
    assert(Similarity.expectedBandedRecall(0.9, p10, l10) >= 0.95)
    // at-threshold model is a FLOOR for both planted measurements
    // (planted pairs sit at cos ∈ [0.90, 0.98] ≥ threshold):
    assert(Similarity.expectedBandedRecall(0.9, 7, 8) <= 0.9855)
    assert(Similarity.expectedBandedRecall(0.9, 7, 8) >= 0.95)
    assert(Similarity.expectedBandedRecall(0.9, 10, 8) <= 0.9417)
    // and within ~2 points of the measured chain at the planted-cos mix
    // (220k single-table measured c¹⁰ = 0.3305):
    val chain220k = 1.0 - math.pow(1.0 - 0.3305, 8)
    assert(math.abs(chain220k - 0.9417) < 0.02,
      f"S-curve chain $chain220k%.4f drifted from the 220k measurement")
    // shape: recall falls in planes, rises in bands; the selector's L is
    // monotone non-decreasing in n at a fixed SLA
    assert(Similarity.expectedBandedRecall(0.9, 10, 8) <
      Similarity.expectedBandedRecall(0.9, 7, 8))
    assert(Similarity.expectedBandedRecall(0.9, 10, 13) >
      Similarity.expectedBandedRecall(0.9, 10, 8))
    assert(Similarity.bandsFor(0.9, 0.95, 2000L)._2 <=
      Similarity.bandsFor(0.9, 0.95, 220000L)._2)
    // an unreachable SLA fails loudly instead of emitting a 100×-cost plan
    assertThrows[IllegalArgumentException] {
      Similarity.bandsFor(0.5, 0.999, 220000L)
    }
    // the GRADED row's operating points (q_dedup_embed_banded derives
    // (p, L) from count(*) at t = 0.4, SLA 0.95; the DuckDB twin
    // replicates the same formulas in SQL): pin the integers the two
    // engines must agree on at the driver's grading corpora — n = 500
    // (sf0.01) and n = 2000 (sf0.1). A float-boundary drift between
    // Scala's ln-ratio ceil and DuckDB's would show here first.
    assert(Similarity.bandsFor(0.4, 0.95, 500L) === ((1, 4)))
    assert(Similarity.bandsFor(0.4, 0.95, 2000L) === ((3, 11)))
  }

  test("SLA-driven banded near-dup holds the asked-for recall on planted " +
    "twins at a selector-chosen operating point") {
    // End-to-end: state the SLA, let bandsFor pick (p, L), measure. At
    // this fixture's n = 600 the law gives p = 2 and a 0.95 SLA needs
    // L = 3; the model floor at the planted cos 0.95 is ~0.99. The 0.90
    // floor is tighter than the 8×7 test's 0.85 because the selector
    // point was CHOSEN for the SLA — recall under 0.95 here means the
    // selector, not just the operator, broke.
    val (corpusDf, truth) = plantedFixture(0.95)
    val corpus = corpusDf.cache()
    val n = corpus.count()
    assert(Similarity.bandsFor(0.9, 0.95, n) === ((2, 3)))
    val pairs = Similarity.cosineNearDupPairsBanded(
      corpus, "vec_id", "embedding", 0.9, 0.95, n, maxBands = 64)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    val recall = truth.count(pairs.contains).toDouble / truth.size
    assert(recall >= 0.90,
      f"selector-chosen point recall $recall%.3f under floor (model ~0.99)")
    corpus.unpersist(); ()
  }

  test("approximate ANN holds a recall floor at the law operating point " +
    "(deterministic on the sf0.001 embeddings)") {
    val emb = spark.read
      .parquet("/root/testdata/sf0.001/embeddings.parquet").cache()
    val n = emb.count()
    val law = Similarity.numPlanesFor(n) // 500 vectors → 1 plane
    val queries = emb.where(col("vec_id") < 8)
    val truth = Similarity.bruteForceTopK(
      queries, emb, "vec_id", "embedding", 5).cache()
    val lshR = Similarity.recallVs(truth,
      Similarity.lshTopK(queries, emb, "vec_id", "embedding", 5, law))
    val ivfR = Similarity.recallVs(truth,
      Similarity.ivfTopK(queries, emb, "vec_id", "embedding", 5, 4))
    // every input is deterministic (data, SRP sign patterns, seeds), so
    // these are constants; the floors pin the measured values with slack
    // — a regression below them means the operating-point law or the
    // bucketing broke, not noise
    assert(lshR >= 0.50, f"lshTopK recall@5 $lshR%.3f under floor")
    assert(ivfR >= 0.50, f"ivfTopK recall@5 $ivfR%.3f under floor")
    truth.unpersist(); emb.unpersist(); ()
  }

  test("multi-probe IVF: recall rises monotonically with nprobe and " +
    "probing every cell recovers brute force exactly") {
    val emb = spark.read
      .parquet("/root/testdata/sf0.001/embeddings.parquet").cache()
    val queries = emb.where(col("vec_id") < 8)
    val truth = Similarity.bruteForceTopK(
      queries, emb, "vec_id", "embedding", 5).cache()
    val recalls = Seq(1, 2, 4).map { np =>
      np -> Similarity.recallVs(truth, Similarity.ivfTopK(
        queries, emb, "vec_id", "embedding", 5, nCentroids = 4, nprobe = np))
    }
    recalls.sliding(2).foreach { case Seq((a, ra), (b, rb)) =>
      assert(rb >= ra, f"recall fell $ra%.3f -> $rb%.3f from nprobe=$a to $b")
    }
    // nprobe = nCentroids probes EVERY cell: the candidate set is the
    // full corpus minus self, so the result is bruteForceTopK row for
    // row (same scoring arithmetic, same rank contract) — the strongest
    // statement that the probe fan-out loses nothing but cell pruning
    val all = Similarity.ivfTopK(
      queries, emb, "vec_id", "embedding", 5, nCentroids = 4, nprobe = 4)
    assert(all.exceptAll(truth).isEmpty && truth.exceptAll(all).isEmpty,
      "nprobe = cells must equal brute force exactly")
    // nprobe = 1 stays bit-identical to the pre-multi-probe operator
    val np1 = Similarity.ivfTopK(
      queries, emb, "vec_id", "embedding", 5, nCentroids = 4, nprobe = 1)
    val legacy = Similarity.ivfTopK(queries, emb, "vec_id", "embedding", 5, 4)
    assert(np1.exceptAll(legacy).isEmpty && legacy.exceptAll(np1).isEmpty)
    truth.unpersist(); emb.unpersist(); ()
  }

  test("probesFor: the IVF recall-SLA selector mirrors bandsFor on the " +
    "measured power-law miss curve") {
    // at the measured single-probe recall (0.9828, RecallBench 220k) a
    // 0.95 SLA is already met by one probe; tighter SLAs buy probes
    // under miss ∝ nprobe^-0.7 (measured β ≈ 0.73 at the 220k decade)
    assert(Similarity.probesFor(0.95, 220000L) === 1)
    // 0.99: (0.0172/0.01)^(1/0.7) ≈ 2.2 → 3 probes; the measured curve
    // reaches 0.9922 already at nprobe = 2 — the selector errs
    // conservative, never optimistic
    assert(Similarity.probesFor(0.99, 220000L) === 3)
    // monotone in the SLA, capped at the law cell count (probing every
    // cell is brute force — tiny corpora saturate)
    assert(Similarity.probesFor(0.995, 220000L) >=
      Similarity.probesFor(0.99, 220000L))
    assert(Similarity.probesFor(0.9999999, 9L, singleProbeRecall = 0.5) === 3)
    // an SLA whose power-law cost exceeds maxProbes fails loudly, like
    // bandsFor: 0.999 genuinely needs ~59 probes at the measured curve
    // — the selector says so instead of quietly under-probing (the
    // geometric model's answer here was 2, inflated by tail recovery
    // the measurement does not deliver)
    assertThrows[IllegalArgumentException] {
      Similarity.probesFor(0.999, 220000L)
    }
  }

  test("ivfTopK: same-cell neighbors ranked by cosine") {
    // centroids = first 2 vectors; 0/1-cluster and 2/3-cluster separate
    val vecs = Seq(
      (0L, Seq(1.0f, 0.0f)),
      (1L, Seq(0.0f, 1.0f)),
      (2L, Seq(0.95f, 0.05f)),
      (3L, Seq(0.1f, 0.9f))).toDF("vec_id", "embedding")
    val out = Similarity.ivfTopK(
      vecs.where($"vec_id" === 0), vecs, "vec_id", "embedding", 5, nCentroids = 2)
      .select("neighbor_id").as[Long].collect()
    assert(out.toSeq == Seq(2L)) // only the same-cell vector, not cluster 2
  }

  test("kmeansParallelSeeds: deterministic, returns k centers, and beats " +
    "first-k-by-id seeding on a fixture built to defeat first-k") {
    // three tight direction-clusters; ids 0..9 ALL in cluster A, so the
    // first-3-by-id convention seeds three near-identical centers (two
    // immediately lose every point and drop out — Lloyd cannot recover
    // a center for B or C), while k-means|| oversamples by d² and must
    // land seeds in B and C
    val base = Seq(
      Seq(1.0f, 0.0f, 0.0f), // A
      Seq(0.0f, 1.0f, 0.0f), // B
      Seq(0.0f, 0.0f, 1.0f)) // C
    val vecs = ((0 until 10).map { i => // ids 0-9: all cluster A
      (i.toLong, Seq(1.0f, 0.01f * i, 0.005f * i))
    } ++ (10 until 40).map { i => // ids 10-39: B and C interleaved
      val c = base(1 + i % 2)
      (i.toLong, c.zipWithIndex.map { case (x, j) =>
        x + 0.01f * ((i + j) % 3) })
    }).toDF("vec_id", "embedding")
    vecs.cache(); vecs.count()
    val k = 3
    val firstK = Similarity.seedCentroidsFor(vecs, "vec_id", "embedding", k)
    val par = Similarity.kmeansParallelSeeds(vecs, "vec_id", "embedding", k)
    assert(par.size === k)
    // deterministic: the md5-prefix draws and greedy reduction have no
    // RNG state — a second call is identical
    assert(par === Similarity.kmeansParallelSeeds(vecs, "vec_id", "embedding", k))
    // same Lloyd rounds from both seedings; quality = cosine inertia
    val fitFirst = Similarity.kmeansFitFrom(vecs, "vec_id", "embedding", firstK, 2)
    val fitPar = Similarity.kmeansFitFrom(vecs, "vec_id", "embedding", par, 2)
    val iFirst = Similarity.inertia(vecs, "vec_id", "embedding", fitFirst)
    val iPar = Similarity.inertia(vecs, "vec_id", "embedding", fitPar)
    assert(iPar <= iFirst,
      f"k-means|| seeding must not lose to first-k: $iPar%.4f vs $iFirst%.4f")
    // on THIS fixture the gap is structural, not noise: first-k cannot
    // cover B/C, so parallel seeding wins by a wide margin
    assert(iPar < 0.5 * iFirst,
      f"expected a structural win on the adversarial fixture: " +
        f"$iPar%.4f vs $iFirst%.4f")
    // kmeansFit is unchanged: it IS kmeansFitFrom(first-k seeds)
    assert(Similarity.kmeansFit(vecs, "vec_id", "embedding", k, 2) === fitFirst)
    vecs.unpersist(); ()
  }

  test("kmeansParallelSeeds: the degenerate-draw pad prefers USABLE " +
    "vectors — a null-element embedding among the first k ids must " +
    "not abort seeding when enough clean vectors exist") {
    // id 0 carries a null element (a failed embedding); ids 1-3 are
    // clean. Padding from the RAW corpus would throw in seedCentroids
    // on id 0; the pad must draw from the clean frame instead.
    val vecs = Seq(
      (0L, "bad"), (1L, "ok"), (2L, "ok"), (3L, "ok")).toDF("vec_id", "kind")
      .selectExpr("vec_id",
        "CASE WHEN kind = 'bad' THEN array(1.0D, CAST(NULL AS DOUBLE)) " +
          "ELSE array(CAST(vec_id AS DOUBLE), 1.0D) END AS embedding")
    val seeds = Similarity.kmeansParallelSeeds(vecs, "vec_id", "embedding", 3)
    assert(seeds.size === 3)
    assert(!seeds.map(_._1).contains(0L),
      "a null-element vector can never be a seed")
  }

  test("kmeansParallelSeeds: a corpus with no usable vectors (all " +
    "zero-norm) falls back to first-k seeds instead of crashing the " +
    "sampling round on an empty candidate matrix") {
    val degenerate = Seq(
      (0L, Seq(0.0f, 0.0f)), (1L, Seq(0.0f, 0.0f)), (2L, Seq(0.0f, 0.0f)))
      .toDF("vec_id", "embedding")
    val seeds = Similarity.kmeansParallelSeeds(degenerate, "vec_id", "embedding", 2)
    assert(seeds === Similarity.seedCentroidsFor(
      degenerate, "vec_id", "embedding", 2))
  }

  test("kmeansParallelSeeds: a far outlier whose keep-probability " +
    "saturates at 1.0 is ALWAYS drawn (md5-prefix draw keeps p>=1 " +
    "explicitly, as in mixtureSample)") {
    // ids 0-29: one tight direction-cluster; id 30: orthogonal outlier
    // with d² ≈ 1 ≈ φ so p = min(1, 2k·d²/φ) saturates. id 30 is chosen
    // so md5("kpp:r:30") starts with a non-'0' hex digit for ALL four
    // rounds (c4/4f/6a/e9) — without the explicit p>=1 keep-clause the
    // lexicographic compare against the 9-digit "100000000" rejects it
    // every round and the one point the oversampling exists to find is
    // seeded from first-k instead
    val vecs = ((0 until 30).map { i =>
      (i.toLong, Seq(1.0f, 0.0001f * i))
    } :+ (30L, Seq(0.0f, 1.0f))).toDF("vec_id", "embedding")
    val par = Similarity.kmeansParallelSeeds(vecs, "vec_id", "embedding", 2)
    assert(par.map(_._1).contains(30L),
      s"saturated-probability outlier must be a seed, got ids ${par.map(_._1)}")
  }

  test("the shared CC null contract holds in EVERY formulation: a null " +
    "id never appears in the output, a half-null pair's good endpoint " +
    "is kept as a self-labeled singleton") {
    // pre-fix disagreement: label-prop emitted (null, 2) — the null id
    // formed its own group and adopted its neighbor's label — while the
    // star pass emitted (null, null); both leaked a null row
    val pairs = Seq((Some(1L), Some(2L)), (None, Some(2L)),
      (Some(3L), None), (None: Option[Long], None: Option[Long]))
      .toDF("id_a", "id_b")
    val expected = Map(1L -> 1L, 2L -> 1L, 3L -> 3L)
    Seq(
      graft.ops.Dedup.connectedComponentsLabelProp(pairs),
      graft.ops.Dedup.connectedComponentsStar(pairs),
      graft.ops.Dedup.connectedComponents(pairs)).foreach { cc =>
      assert(cc.collect().map(r =>
        (r.getLong(0), r.getLong(1))).toMap === expected)
    }
  }

  test("connectedComponentsStar on STRING ids: the convergence signature " +
    "must be type-agnostic (incrementalMergeParts runs the star pass " +
    "directly on every streaming quotient graph)") {
    val labels = graft.ops.Dedup.connectedComponentsStar(
      Seq(("a", "b"), ("b", "c"), ("x", "y")).toDF("id_a", "id_b"))
      .as[(String, String)].collect().toMap
    assert(labels === Map("a" -> "a", "b" -> "a", "c" -> "a",
      "x" -> "x", "y" -> "x"))
  }

  test("decontaminateFuzzy drops the benchmark and its verified near-dups, " +
    "keeps sub-threshold and unrelated docs") {
    // benchmark = doc 1; doc 2 is its exact dup (J=1.0 → dropped); doc 3
    // differs in 1 of 9 tokens → J = 4/10 = 0.4 < 0.5 → KEPT (this is the
    // fuzzy-vs-exact distinction: the exact-shingle variant drops 3 too)
    val out = Dedup.decontaminateFuzzy(docs, "doc_id", "text",
      docs.where($"doc_id" === 1))
      .select("doc_id").as[Long].collect().toSet
    assert(out === Set(3L, 4L, 5L))
  }

  test("kmeansFit converges to the cluster means on a separable fixture; " +
    "refineAssign separates the clusters") {
    // two tight direction-clusters; seeds (first 2 by id) start one-per-cluster
    val vecs = Seq(
      (0L, Seq(1.0f, 0.0f)), (1L, Seq(0.0f, 1.0f)),
      (2L, Seq(0.9f, 0.1f)), (3L, Seq(0.1f, 0.9f)),
      (4L, Seq(0.95f, 0.05f)), (5L, Seq(0.05f, 0.95f)))
      .toDF("vec_id", "embedding")
    val model = Similarity.kmeansFit(vecs, "vec_id", "embedding", k = 2, iters = 3)
    assert(model.map(_._1) === Seq(0L, 1L))
    val Seq((_, c0), (_, c1)) = model
    // decimal-exact means of {(1,0),(.9,.1),(.95,.05)} and the mirror set
    assert(c0 === Seq(0.95, 0.05))
    assert(c1 === Seq(0.05, 0.95))
    val cells = Similarity.kmeansRefineAssign(vecs, "vec_id", "embedding", k = 2)
      .select("vec_id", "cell").as[(Long, Long)].collect().toMap
    assert(cells === Map(0L -> 0L, 2L -> 0L, 4L -> 0L, 1L -> 1L, 3L -> 1L, 5L -> 1L))
    // the score column (Spark-side diagnostic — deliberately NOT in the
    // graded projection, mean-derived cosines are not cross-engine
    // bit-portable): equals the cosine to the assigned refined
    // centroid, recomputed independently here
    val means = Map(0L -> Seq(0.95, 0.05), 1L -> Seq(0.05, 0.95))
    val raw = vecs.as[(Long, Seq[Float])].collect().toMap
    def cosd(a: Seq[Double], b: Seq[Double]): Double = {
      val ab = a.zip(b).map { case (x, y) => x * y }.sum
      val n = math.sqrt(a.map(x => x * x).sum) * math.sqrt(b.map(x => x * x).sum)
      BigDecimal(ab / n).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    }
    Similarity.kmeansRefineAssign(vecs, "vec_id", "embedding", k = 2)
      .as[(Long, Long, Double)].collect().foreach { case (id, cell, score) =>
        assert(score === cosd(raw(id).map(_.toDouble), means(cell)),
          s"vec $id score drifted from the independent recomputation")
      }
  }

  test("semDeDup: within-cell greedy-by-id pruning — no two survivors in " +
    "one cell clear the threshold; every dropped row is shadowed by a " +
    "smaller in-cell id") {
    // two direction-clusters with in-cluster near-dups: the keep-min-id
    // rule must keep 0 and 1 and drop their tight neighbors, while the
    // cross-cluster angles (cos ~ 0.18) never prune
    val vecs = Seq(
      (0L, Seq(1.0f, 0.0f)), (1L, Seq(0.0f, 1.0f)),
      (2L, Seq(0.9f, 0.1f)), (3L, Seq(0.1f, 0.9f)),
      (4L, Seq(0.95f, 0.05f)), (5L, Seq(0.05f, 0.95f)))
      .toDF("vec_id", "embedding")
    val out = Similarity.semDeDup(vecs, "vec_id", "embedding", k = 2,
      threshold = 0.9).as[(Long, Long)].collect().toMap
    // cells are {0,2,4} and {1,3,5} (pinned by the kmeansRefineAssign
    // test above); in-cell cosines all exceed 0.9 → only the min ids live
    assert(out === Map(0L -> 0L, 1L -> 1L))
    // threshold above every in-cell cosine → nothing prunes, and the
    // survivors carry the same cells kmeansRefineAssign assigns
    val all = Similarity.semDeDup(vecs, "vec_id", "embedding", k = 2,
      threshold = 1.1).as[(Long, Long)].collect().toMap
    val cells = Similarity.kmeansRefineAssign(vecs, "vec_id", "embedding", k = 2)
      .select("vec_id", "cell").as[(Long, Long)].collect().toMap
    assert(all === cells)
  }

  test("semanticDecontaminate: near-benchmark vectors drop, orthogonal " +
    "ones survive, zero-norm scores never count as contamination") {
    val bench = Seq((1L, Seq(1.0f, 0.0f, 0.0f))).toDF("vec_id", "embedding")
    val corpus = Seq(
      (10L, Seq(0.99f, 0.1f, 0.0f)), // paraphrase-close → dropped
      (11L, Seq(0.0f, 1.0f, 0.0f)),  // orthogonal → survives
      (12L, Seq(-1.0f, 0.0f, 0.0f)), // opposite → survives
      (13L, Seq(0.0f, 0.0f, 0.0f))   // zero-norm: NaN score, survives
    ).toDF("vec_id", "embedding")
    val got = Similarity.semanticDecontaminate(
      corpus, bench, "embedding", 0.9)
      .select("vec_id").as[Long].collect().toSet
    assert(got === Set(11L, 12L, 13L))
    // a zero-norm BENCHMARK row must not nuke the corpus either
    val benchBad = bench.union(
      Seq((2L, Seq(0.0f, 0.0f, 0.0f))).toDF("vec_id", "embedding"))
    val got2 = Similarity.semanticDecontaminate(
      corpus, benchBad, "embedding", 0.9)
      .select("vec_id").as[Long].collect().toSet
    assert(got2 === Set(11L, 12L, 13L))
  }

  test("semDeDup on the corpus: survivor set is exactly the complement of " +
    "the shadowed set, verified pairwise on the driver") {
    val emb = spark.read
      .parquet("/root/testdata/sf0.001/embeddings.parquet").cache()
    val out = Similarity.semDeDup(emb, "vec_id", "embedding", 4, 0.4)
      .as[(Long, Long)].collect().toMap
    val cells = Similarity.kmeansRefineAssign(emb, "vec_id", "embedding", 4)
      .select("vec_id", "cell").as[(Long, Long)].collect().toMap
    val vs = emb.select("vec_id", "embedding")
      .as[(Long, Seq[Float])].collect().toMap
      .map { case (id, v) => id -> v.map(_.toDouble).toArray }
    def cos(a: Array[Double], b: Array[Double]): Double = {
      var i = 0; var ab = 0.0; var aa = 0.0; var bb = 0.0
      while (i < a.length) { ab += a(i) * b(i); aa += a(i) * a(i)
        bb += b(i) * b(i); i += 1 }
      // the operator's rounding discipline (Spark round = HALF_UP)
      BigDecimal(ab / (math.sqrt(aa) * math.sqrt(bb)))
        .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    }
    val byCell = cells.groupBy(_._2).view.mapValues(_.keys.toSeq.sorted)
    byCell.foreach { case (cell, ids) =>
      ids.foreach { b =>
        val shadowed = ids.exists(a => a < b && cos(vs(a), vs(b)) >= 0.4)
        val survived = out.contains(b)
        assert(survived === !shadowed,
          s"vec $b in cell $cell: survived=$survived shadowed=$shadowed")
        if (survived) assert(out(b) === cell)
      }
    }
    assert(out.size < cells.size, "threshold 0.4 pruned nothing")
    emb.unpersist(); ()
  }

  test("cell assignment: the broadcast-join path (k > 32) matches the " +
    "literal path exactly on the corpus — same cells, same tie-breaks") {
    // the two strategies behind Similarity.withCell share a rounding/tie
    // contract (round(cos,9) DESC, ties -> smaller cid); this pins it on
    // real data with a 40-centroid model (the join path's regime)
    val emb = spark.read
      .parquet("/root/testdata/sf0.001/embeddings.parquet").cache()
    val cents = emb.select("vec_id", "embedding")
      .as[(Long, Seq[Float])].collect().sortBy(_._1).take(40)
      .map { case (id, v) => (id, v.map(_.toDouble).toSeq) }.toSeq
    val byLit = Similarity.cellsByLiteral(emb, "vec_id", "embedding", cents)
      .select("vec_id", "_cell").as[(Long, Long)].collect().toMap
    val byJoin = Similarity.cellsByJoin(emb, "vec_id", "embedding", cents)
      .select("vec_id", "_cell").as[(Long, Long)].collect().toMap
    val byNative = Similarity.withCell(emb, "vec_id", "embedding", cents)
      .select("vec_id", "_cell").as[(Long, Long)].collect().toMap
    assert(byJoin === byLit)
    assert(byNative === byLit)
    assert(byLit.values.toSet.size > 1, "degenerate single-cell fixture")
    emb.unpersist(); ()
  }

  test("cell assignment NaN contract: zero-norm vector or centroid ranks " +
    "greatest on all three paths (literal, join, native)") {
    // A zero-norm vector (cosine NaN vs every centroid) and a zero-norm
    // centroid (cosine NaN vs every vector) exercise the NaN-ranks-
    // greatest / ties-to-smaller-cid contract the three strategies claim
    // to share — the real-data fixture above can never hit it. The join
    // path in particular must encode NaN explicitly: a bare
    // NaN.cast(long) is 0 under non-ANSI semantics and would rank it
    // mid-pack.
    val emb = Seq(
      (1L, Seq(1f, 0f)), (2L, Seq(0f, 1f)), (3L, Seq(0f, 0f)))
      .toDF("vec_id", "embedding")
    val centsNormal = Seq((10L, Seq(1.0, 0.0)), (20L, Seq(0.0, 1.0)))
    val centsWithZero = centsNormal :+ (30L, Seq(0.0, 0.0))
    for (cents <- Seq(centsNormal, centsWithZero)) {
      val byLit = Similarity.cellsByLiteral(emb, "vec_id", "embedding", cents)
        .select("vec_id", "_cell").as[(Long, Long)].collect().toMap
      val byJoin = Similarity.cellsByJoin(emb, "vec_id", "embedding", cents)
        .select("vec_id", "_cell").as[(Long, Long)].collect().toMap
      val byNative = Similarity.withCell(emb, "vec_id", "embedding", cents)
        .select("vec_id", "_cell").as[(Long, Long)].collect().toMap
      assert(byJoin === byLit, s"join vs literal with cents=$cents")
      assert(byNative === byLit, s"native vs literal with cents=$cents")
    }
    // and the contract itself, pinned concretely: zero VECTOR → all-NaN
    // tie → smallest cid; zero CENTROID → NaN beats every real cosine
    val normal = Similarity.withCell(emb, "vec_id", "embedding", centsNormal)
      .select("vec_id", "_cell").as[(Long, Long)].collect().toMap
    assert(normal === Map(1L -> 10L, 2L -> 20L, 3L -> 10L))
    // zero CENTROID: NaN beats every real cosine for vectors 1 and 2 —
    // but the zero VECTOR is NaN against ALL THREE, so its tie still
    // resolves to the smallest cid
    val withZero = Similarity.withCell(emb, "vec_id", "embedding", centsWithZero)
      .select("vec_id", "_cell").as[(Long, Long)].collect().toMap
    assert(withZero === Map(1L -> 30L, 2L -> 30L, 3L -> 10L))
  }

  test("exactIncremental: in-batch dups collapse, seen digests drop") {
    val corpus = Seq((1L, "alpha text"), (2L, "beta text")).toDF("doc_id", "text")
    val seen = corpus.select(md5($"text".cast("binary")).as("digest")).distinct()
    val batch = Seq(
      (10L, "alpha text"), // already in the corpus → dropped
      (11L, "gamma text"), (12L, "gamma text"), // in-batch dup → keeper 11
      (13L, "delta text")).toDF("doc_id", "text")
    val kept = Dedup.exactIncremental(batch, "doc_id", "text", seen)
      .select("keeper_id").as[Long].collect().sorted.toSeq
    assert(kept === Seq(11L, 13L))
  }

  test("minhashIncrementalCandidates = full-run pairs touching the batch") {
    val mk = (id: Long, tail: String) =>
      (id, s"the quick brown fox jumps over the lazy dog $tail")
    val all = Seq(
      mk(1L, "one"), mk(2L, "one"), mk(3L, "three"),
      mk(10L, "one"), mk(11L, "three"), mk(12L, "twelve"), mk(13L, "one"))
      .toDF("doc_id", "text")
    val corpus = all.where($"doc_id" < 10)
    val batch = all.where($"doc_id" >= 10)
    val full = Dedup.minhashCandidatePairs(all, "doc_id", "text")
      .as[(Long, Long)].collect().toSet
    val stored = Dedup.bandTable(corpus.select($"doc_id".as("_id"),
      Text.shingles($"text", 3).as("_sh")))
    val incr = Dedup.minhashIncrementalCandidates(
      batch, "doc_id", "text", stored).as[(Long, Long)].collect().toSet
    val batchIds = Set(10L, 11L, 12L, 13L)
    val expected = full.filter(p => batchIds(p._1) || batchIds(p._2))
    assert(incr === expected)
    assert(expected.nonEmpty) // the fixture must actually exercise both legs

    // parameter-drift guard: probing the same store with different
    // banding must fail loudly, never silently join into a foreign key
    // space and report zero duplicates
    val eMh = intercept[IllegalArgumentException] {
      Dedup.minhashIncrementalCandidates(
        batch, "doc_id", "text", stored, rowsPerBand = 4)
    }
    assert(eMh.getMessage.contains("mh:h8:r2"))
    // shingle width shapes the key space just as much as h/r: a store
    // that RECORDS its width refuses a probe at another width, while
    // the tag-less `stored` above stays compatible on its recorded axes
    val storedSh = Dedup.bandTable(corpus.select($"doc_id".as("_id"),
      Text.shingles($"text", 3).as("_sh")), shingleSize = 3)
    val eSh = intercept[IllegalArgumentException] {
      Dedup.minhashIncrementalCandidates(
        batch, "doc_id", "text", storedSh, shingleSize = 4)
    }
    assert(eSh.getMessage.contains("sh3") && eSh.getMessage.contains("sh4"))
    val srpStore = Similarity.srpTable(
      Seq((1L, Seq(1.0f, 0.0f))).toDF("vec_id", "embedding"),
      "vec_id", "embedding", numPlanes = 4)
    val eSrp = intercept[IllegalArgumentException] {
      Similarity.cosineIncrementalCandidates(
        Seq((2L, Seq(0.9f, 0.1f))).toDF("vec_id", "embedding"),
        "vec_id", "embedding", srpStore, 0.4, numPlanes = 6)
    }
    assert(eSrp.getMessage.contains("srp:p4"))
  }

  test("drift-guard memo is content-keyed: a store REBUILT at the same " +
    "path with other parameters is re-checked and refused") {
    val dir = java.nio.file.Files.createTempDirectory("graft-store-memo")
    val path = dir.resolve("bands").toString
    val shingled = docs.select($"doc_id".as("_id"),
      Text.shingles($"text", 3).as("_sh"))
    val batch = docs.where($"doc_id" >= 4)
    try {
      Dedup.bandTable(shingled, rowsPerBand = 2)
        .write.mode("overwrite").parquet(path)
      // first probe matches and memoizes (file-backed store)
      Dedup.minhashIncrementalCandidates(batch, "doc_id", "text",
        spark.read.parquet(path), rowsPerBand = 2)
      // rebuild AT THE SAME PATH with different banding: the fresh read
      // has the same logical plan (same path, same schema), so a
      // plan-keyed memo would keep the stale PASS and the probe would
      // silently join into a foreign key space — the content key (the
      // rewritten part files) forces the re-check
      Dedup.bandTable(shingled, rowsPerBand = 4)
        .write.mode("overwrite").parquet(path)
      val e = intercept[IllegalArgumentException] {
        Dedup.minhashIncrementalCandidates(batch, "doc_id", "text",
          spark.read.parquet(path), rowsPerBand = 2)
      }
      assert(e.getMessage.contains("mh:h8:r4"))
      assert(e.getMessage.contains("mh:h8:r2"))
    } finally {
      def rm(f: java.io.File): Unit = {
        Option(f.listFiles()).foreach(_.foreach(rm)); f.delete(); ()
      }
      rm(dir.toFile)
    }
  }

  test("mixtureSample: saturated source kept whole, partial rate tracks " +
    "the budget, unlisted sources dropped, deterministic") {
    // source a: 400 docs × 10 tokens = 4000; b: 10 × 10 = 100; c unlisted
    val docs = ((0 until 400).map(i => (i.toLong, "a")) ++
      (400 until 410).map(i => (i.toLong, "b")) ++
      (410 until 420).map(i => (i.toLong, "c")))
      .map { case (id, src) => (id, src, Seq.fill(10)("tok").mkString(" ")) }
      .toDF("doc_id", "source", "text")
    // T=2000: f_a = 2000·0.5/4000 = 0.25; f_b = 2000·0.5/100 = 10 → 1
    val out = Text.mixtureSample(docs, "doc_id", "source", "text",
      Seq("a" -> 0.5, "b" -> 0.5), totalTokens = 2000L)
    val bySrc = out.groupBy("source").count().as[(String, Long)].collect().toMap
    assert(bySrc("b") === 10L) // saturated → full keep
    assert(!bySrc.contains("c")) // not in the mixture
    val aKept = bySrc("a")
    assert(aKept > 60 && aKept < 140, s"~25% of 400 expected, got $aKept")
    val rerun = Text.mixtureSample(docs, "doc_id", "source", "text",
      Seq("a" -> 0.5, "b" -> 0.5), totalTokens = 2000L)
      .select("doc_id").as[Long].collect().sorted.toSeq
    assert(rerun === out.select("doc_id").as[Long].collect().sorted.toSeq)
  }

  test("gopherStats: signals and the keep conjunction") {
    val df = Seq(
      (1L, "the quick brown fox jumps over the lazy dog wins"), // 10 words
      (2L, "x y"),                                  // too short → keep=false
      (3L, ("the " * 10) + "0 1 2 3 4 5 6")         // mean len < 2 → false
    ).toDF("doc_id", "text")
    val out = Text.gopherStats(df, "doc_id", "text")
      .orderBy("doc_id").collect()
    assert(out(0).getAs[Int]("n_words") === 10)
    assert(out(0).getAs[Double]("mean_word_len") === 3.9) // 39 chars / 10
    assert(out(0).getAs[Double]("alpha_word_frac") === 1.0)
    assert(out(0).getAs[Int]("stop_hits") === 2) // the, the
    assert(out(0).getAs[Boolean]("keep"))
    assert(!out(1).getAs[Boolean]("keep"))
    assert(!out(2).getAs[Boolean]("keep")) // 17 words, mean (40+7)/17 < 2
  }

  test("gopherFilter keeps exactly the gopherStats keep=true rows, with " +
    "the ORIGINAL columns intact (shared signal definitions cannot drift)") {
    val docs = graft.Tables(spark, "/root/testdata/sf0.001", "documents")
    val filtered = Text.gopherFilter(docs, "text")
    assert(filtered.columns.toSeq === docs.columns.toSeq)
    val gotIds = filtered.select("doc_id").as[Long].collect().sorted.toSeq
    val wantIds = Text.gopherStats(docs, "doc_id", "text")
      .where(col("keep")).select("doc_id").as[Long].collect().sorted.toSeq
    assert(gotIds === wantIds)
    assert(gotIds.nonEmpty && gotIds.size < docs.count())
  }

  test("boilerplateStats: shared shingles counted as frequent, frac in [0,1]") {
    // 5 docs share the template 'a b c d'; doc 6 is unique text
    val tpl = (1 to 5).map(i => (i.toLong, s"a b c d unique$i words$i here$i"))
    val df = (tpl :+ (6L, "totally fresh content nothing shared at all"))
      .toDF("doc_id", "text")
    val out = Text.boilerplateStats(df, "doc_id", "text", shingleSize = 3,
      minDf = 5).orderBy("doc_id").collect()
    // 'a b c' and 'b c d' appear in all 5 template docs → frequent
    (0 until 5).foreach { i =>
      assert(out(i).getAs[Long]("n_frequent") === 2L, out(i).toString)
      assert(out(i).getAs[Double]("boilerplate_frac") > 0.0)
    }
    assert(out(5).getAs[Long]("n_frequent") === 0L)
    assert(out(5).getAs[Double]("boilerplate_frac") === 0.0)
  }

  test("temperatureSample: alpha=1 matches natural share; alpha=0 equalizes " +
    "fractions; deterministic") {
    val df = ((0 until 300).map(i => (i.toLong, "a")) ++
      (300 until 320).map(i => (i.toLong, "b")))
      .map { case (id, s) => (id, s, Seq.fill(10)("tok").mkString(" ")) }
      .toDF("doc_id", "source", "text")
    // alpha=1: p_s = A_s/ΣA → f_s = T/ΣA uniform over docs (same keep rate)
    val a1 = Text.temperatureSample(df, "doc_id", "source", "text",
      alpha = 1.0, totalTokens = 1600L)
    // f = 1600/3200 = 0.5 for both sources
    val n1 = a1.count()
    assert(n1 > 110 && n1 < 210, s"~160 of 320 expected, got $n1")
    // alpha=0: p_s = 1/2 each → b (small source) saturates to keep-all
    val a0 = Text.temperatureSample(df, "doc_id", "source", "text",
      alpha = 0.0, totalTokens = 400L)
    val bySrc = a0.groupBy("source").count().as[(String, Long)].collect().toMap
    assert(bySrc("b") === 20L) // T·(1/2)/200 = 1 → saturated
    val rerun = Text.temperatureSample(df, "doc_id", "source", "text",
      alpha = 1.0, totalTokens = 1600L)
    assert(rerun.select("doc_id").as[Long].collect().sorted.toSeq ===
      a1.select("doc_id").as[Long].collect().sorted.toSeq)
  }

  test("minhashEstimatePairs: exact dups estimate 1.0 and measure 1.0; " +
    "estimate stays within the 8-hash error envelope") {
    val out = Dedup.minhashEstimatePairs(docs, "doc_id", "text")
      .as[(Long, Long, Double, Double)].collect()
    val exact = out.find(p => p._1 == 1L && p._2 == 2L).get
    assert(exact._3 === 1.0 && exact._4 === 1.0)
    // every candidate's estimate is a multiple of 1/8 and within the
    // 8-hash binomial envelope of the true jaccard (3σ ≈ 0.53 worst case;
    // candidates are ≥0.5-ish so use the loose bound)
    out.foreach { case (_, _, est, j) =>
      assert(est * 8 === math.rint(est * 8))
      assert(math.abs(est - j) <= 0.55, s"est $est vs true $j")
    }
  }

  test("keepBestPerCluster: best quality wins, ties break to min id, " +
    "singletons keep themselves") {
    val df = Seq(
      (1L, 0.5), (2L, 0.9), (3L, 0.9), // cluster 1: 2 and 3 tie on quality
      (4L, 0.1)                        // singleton
    ).toDF("doc_id", "q")
    val clusters = Seq((1L, 1L), (2L, 1L), (3L, 1L)).toDF("id", "component")
    val out = Dedup.keepBestPerCluster(df, "doc_id", col("q"), clusters)
      .orderBy("doc_id").as[(Long, Long, Double, Boolean)].collect()
    assert(out.map(_._4).toSeq === Seq(false, true, false, true))
    assert(out.map(_._2).toSeq === Seq(1L, 1L, 1L, 4L))
  }

  test("keepBestPerCluster: NULL quality never beats a scored doc " +
    "(quality-DESC-nulls-last contract)") {
    val df = Seq(
      (1L, None: Option[Double]), (2L, Some(0.2)), // null must lose to 0.2
      (10L, None: Option[Double]), (11L, None: Option[Double]) // all-null → min id
    ).toDF("doc_id", "q")
    val clusters = Seq((1L, 1L), (2L, 1L), (10L, 10L), (11L, 10L))
      .toDF("id", "component")
    val out = Dedup.keepBestPerCluster(df, "doc_id", col("q"), clusters)
      .orderBy("doc_id").select("doc_id", "keep")
      .as[(Long, Boolean)].collect().toMap
    assert(out(2L) && !out(1L), "scored doc must beat the null-quality doc")
    assert(out(10L) && !out(11L), "all-null cluster falls back to min id")
  }

  test("verifySaltsFor derives the salt from candidate volume, clamped") {
    assert(Dedup.verifySaltsFor(0L) === 1)
    assert(Dedup.verifySaltsFor(4096L) === 1) // exactly one target-full task
    assert(Dedup.verifySaltsFor(4097L) === 2)
    assert(Dedup.verifySaltsFor(100000L) === 25)
    assert(Dedup.verifySaltsFor(100000000L) === 1024) // replication cap
    assert(Dedup.verifySaltsFor(100L, targetPerSalt = 10L) === 10)
    intercept[IllegalArgumentException](Dedup.verifySaltsFor(1L, 0L))
  }

  test("verifiedJaccardPairs: a skewed hot-doc fixture derives salts > 1 " +
    "and the salted join changes nothing but the distribution") {
    // 24 near-identical docs (one hot near-dup cluster) → C(24,2) = 276
    // candidate pairs, the all-pairs-share-a-doc skew shape
    val hot = (1 to 24).map(i =>
      (i.toLong, s"the quick brown fox jumps over the lazy dog number $i"))
      .toDF("doc_id", "text")
    val cands = Dedup.minhashCandidatePairs(hot, "doc_id", "text")
    assert(Dedup.verifySaltsFor(cands.count(), targetPerSalt = 50L) > 1)
    val salted = Dedup.verifiedJaccardPairs(hot, "doc_id", "text",
      targetPairsPerSalt = 50L) // forces the multi-salt path at spec scale
    val unsalted = Dedup.verifiedJaccardPairs(hot, "doc_id", "text",
      targetPairsPerSalt = Long.MaxValue) // salts = 1
    assert(salted.orderBy("id_a", "id_b").collect().toSeq ===
      unsalted.orderBy("id_a", "id_b").collect().toSeq)
    assert(salted.count() > 0)
  }

  test("langId: NULL text yields NULL, not a language or 'und'") {
    val df = Seq(Some("the cat and the hat"), None: Option[String]).toDF("text")
    val out = df.select(Text.langId($"text").as("l")).collect().map(r =>
      if (r.isNullAt(0)) null else r.getString(0))
    assert(out.toSeq == Seq("en", null))
  }

  test("spread redistributes starved scans and no-ops healthy ones") {
    // a 1-partition frame on a multi-core session must fan out ...
    val starved = docs.coalesce(1)
    val p = spark.sparkContext.defaultParallelism
    assert(Text.spread(starved).rdd.getNumPartitions === p)
    // ... while a frame already at/above session parallelism is untouched
    // (this is the 100 TB path: no shuffle is ever added to a real scan)
    val healthy = docs.repartition(p + 4)
    assert(Text.spread(healthy) eq healthy)
    // row multiset is preserved either way
    assert(Text.spread(starved).select("doc_id").as[Long].collect().sorted
      === docs.select("doc_id").as[Long].collect().sorted)
  }

  test("segmentDedup: keep-first across and within docs, total output, ordered reassembly") {
    val corpus = Seq(
      (10L, "a b c d e f"),          // both segments are corpus-first
      (20L, "a b c x y z"),          // seg 0 shadowed by doc 10
      (30L, "d e f d e f"),          // both segments shadowed by doc 10
      (40L, ""),                     // token-empty: resurrected, zero counts
      (50L, "p q r p q r"),          // within-doc dup: seg 1 shadowed by seg 0
      (60L, "t1  t2 t3 t4")          // trailing partial segment + odd whitespace
    ).toDF("doc_id", "text")
    val out = Dedup.segmentDedup(corpus, "doc_id", "text", width = 3)
      .as[(Long, String, Long, Long)].collect()
      .map(r => r._1 -> ((r._2, r._3, r._4))).toMap

    // one row per input doc, including the empty one
    assert(out.keySet === Set(10L, 20L, 30L, 40L, 50L, 60L))
    assert(out(10L) === (("a b c d e f", 2L, 2L)))
    assert(out(20L) === (("x y z", 1L, 2L)))          // first segment removed
    assert(out(30L) === (("", 0L, 2L)))               // fully shadowed
    assert(out(40L) === (("", 0L, 0L)))
    assert(out(50L) === (("p q r", 1L, 2L)))          // within-doc keep-first
    // trailing partial segment survives; whitespace normalizes to single
    assert(out(60L) === (("t1 t2 t3 t4", 2L, 2L)))

    // global uniqueness: every distinct segment text appears exactly once
    // across all surviving documents
    val keptSegs = out.values.toSeq.map(_._1).filter(_.nonEmpty)
      .flatMap(_.split(" ").grouped(3).map(_.mkString(" ")))
    assert(keptSegs.distinct.size === keptSegs.size)
  }

  test("segmentDedup: identity on an all-distinct corpus; width guard") {
    val corpus = Seq(
      (1L, "w1 w2 w3 w4 w5"),
      (2L, "v1 v2 v3")
    ).toDF("doc_id", "text")
    val out = Dedup.segmentDedup(corpus, "doc_id", "text", width = 2)
      .as[(Long, String, Long, Long)].collect()
      .map(r => r._1 -> ((r._2, r._3, r._4))).toMap
    assert(out(1L) === (("w1 w2 w3 w4 w5", 3L, 3L)))
    assert(out(2L) === (("v1 v2 v3", 2L, 2L)))
    intercept[IllegalArgumentException](
      Dedup.segmentDedup(corpus, "doc_id", "text", width = 0))
  }

  test("bigramLogProb: hand-computed conditionals, bigram-start " +
    "denominator (not unigram tf), and sub-2-token docs drop") {
    val docs = Seq(
      (1L, "a b a b"), // bigrams: (a,b)x2 (b,a)x1
      (2L, "a b c"),   // bigrams: (a,b) (b,c)
      (3L, "x"),       // one token: no bigrams, must DROP
      (4L, null)       // NULL text: size(tokens) is -1 → drops like short
    ).toDF("doc_id", "text")
    // corpus: c2(a,b)=3 c2(b,a)=1 c2(b,c)=1; starts: c1(a)=3 c1(b)=2.
    // NOTE tf(b)=3 — the unigram count would give P(a|b)=1/3, the
    // bigram-start denominator gives the correct 1/2
    def unit(p: Double) = math.floor(math.log(p) * 1e9 + 0.5).toLong
    def mean(us: Seq[Long]) =
      math.floor(us.sum.toDouble / (us.size.toDouble * 1000.0) + 0.5) / 1e6
    val out = Text.bigramLogProb(docs, "doc_id", "text")
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getDouble(2))))
      .toMap
    assert(out.keySet == Set(1L, 2L))
    assert(out(1L) == ((3L,
      mean(Seq(unit(3.0 / 3.0), unit(3.0 / 3.0), unit(1.0 / 2.0))))))
    assert(out(2L) == ((2L,
      mean(Seq(unit(3.0 / 3.0), unit(1.0 / 2.0))))))
  }

  test("pplBucket: interpolated-percentile bands, a score exactly ON a " +
    "threshold goes to the LOWER band, and the buckets guard") {
    val scored = (1 to 10)
      .map(i => (i.toLong, i.toDouble)).toDF("doc_id", "logprob")
    val b5 = Text.pplBucket(scored, buckets = 5)
      .collect().map(r => r.getLong(0) -> r.getInt(2)).toMap
    // thresholds p(.2 .4 .6 .8) of 1..10 = 2.8 4.6 6.4 8.2
    assert(b5 == Map(1L -> 1, 2L -> 1, 3L -> 2, 4L -> 2, 5L -> 3,
      6L -> 3, 7L -> 4, 8L -> 4, 9L -> 5, 10L -> 5))
    // p0.5 of (1,2,3) = 2 exactly: doc 2 sits ON the threshold → band 1
    val edge = Seq((1L, 1.0), (2L, 2.0), (3L, 3.0)).toDF("doc_id", "logprob")
    val b2 = Text.pplBucket(edge, buckets = 2)
      .collect().map(r => r.getLong(0) -> r.getInt(2)).toMap
    assert(b2 == Map(1L -> 1, 2L -> 1, 3L -> 2))
    intercept[IllegalArgumentException](Text.pplBucket(scored, buckets = 1))
  }

  test("shardOrder: total coverage, dense 1..n positions per shard, " +
    "order-independent and seed-keyed") {
    val docs = (1L to 200L).map(i => Tuple1(i)).toDF("doc_id")
    val got = Text.shardOrder(docs, "doc_id", 8).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(got.map(_._1).toSet == (1L to 200L).toSet) // every doc, once
    // positions are a dense 1..|shard| sequence within each shard
    got.groupBy(_._2).foreach { case (sh, rows) =>
      assert(rows.map(_._3).sorted.toSeq == (1L to rows.length).toSeq,
        s"shard $sh positions not dense")
    }
    // pure function of (seed, id): reversing input order changes nothing
    val rev = Text.shardOrder(docs.orderBy(col("doc_id").desc), "doc_id", 8)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(got.toSet == rev.toSet)
    // a different seed reshuffles (still total, still dense)
    val other = Text.shardOrder(docs, "doc_id", 8, "epoch2:").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(other.toSet != got.toSet)
    assert(other.map(_._1).toSet == (1L to 200L).toSet)
    intercept[IllegalArgumentException](Text.shardOrder(docs, "doc_id", 0))
  }

  test("shardOrderBy: within-shard order follows the curriculum key " +
    "(ties to id), shard assignment unchanged from shardOrder") {
    val docs = (1L to 200L).map(i => (i, (i % 7).toDouble))
      .toDF("doc_id", "difficulty")
    val got = Text.shardOrderBy(docs, "doc_id", 8, Seq(col("difficulty")))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    val diff = (1L to 200L).map(i => i -> (i % 7).toDouble).toMap
    // within each shard, pos ASC == (difficulty ASC, id ASC)
    got.groupBy(_._2).foreach { case (sh, rows) =>
      val byPos = rows.sortBy(_._3).map(_._1)
      val want = rows.map(_._1).sortBy(id => (diff(id), id))
      assert(byPos.toSeq == want.toSeq, s"shard $sh order diverges")
    }
    // the shard key is untouched by the curriculum: identical shards
    val plain = Text.shardOrder(docs, "doc_id", 8).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got.map(x => x._1 -> x._2).toMap == plain)
    intercept[IllegalArgumentException](
      Text.shardOrderBy(docs, "doc_id", 8, Seq.empty))
  }

  test("winnowFingerprints: picks = rightmost window minima (driver " +
    "reference), the w-gap density guarantee, and short docs drop") {
    // k = 4, w = 3 on tiny synthetic docs: the reference recomputes the
    // same KR hashes and the rightmost-min rule in plain Scala
    val docs = Seq(
      (1L, "abcdefghabcdefgh"),
      (2L, "zzzzzzzzzzzz"),
      (3L, "abc") // shorter than k: no hash windows, no fingerprints
    ).toDF("doc_id", "text")
    def kr(s: String, i: Int, k: Int): Long =
      s.substring(i, i + k).getBytes("UTF-8")
        .foldLeft(0L)((a, b) => (a * 31 + (b & 0xFF)) % 1000000007L)
    def refPicks(s: String, k: Int, w: Int): Set[(Long, Long)] = {
      val h = (0 to s.length - k).map(i => kr(s, i, k))
      (0 to h.length - w).map { i =>
        val win = h.slice(i, i + w)
        val mn = win.min
        val rightmost = i + win.lastIndexOf(mn)
        (rightmost.toLong, mn)
      }.toSet
    }
    val got = Text.winnowFingerprints(docs, "doc_id", "text", k = 4, w = 3)
      .collect()
      .map(r => (r.getLong(0), (r.getLong(1), r.getLong(2))))
      .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    assert(got.keySet == Set(1L, 2L))
    assert(got(1L) == refPicks("abcdefghabcdefgh", 4, 3))
    // all-same-char doc: every hash equal, rightmost tie each window
    assert(got(2L) == refPicks("zzzzzzzzzzzz", 4, 3))
    // density: adjacent kept positions are at most w apart (the paper's
    // coverage guarantee — no gap of w windows goes unsampled)
    val pos1 = got(1L).map(_._1).toSeq.sorted
    assert(pos1.zip(pos1.tail).forall { case (a, b) => b - a <= 3 })
  }

  test("winnowOverlapPairs: a copied span >= k+w-1 bytes is FOUND, " +
    "unrelated docs are not, and minShared gates") {
    val shared = "The quick brown fox jumps over the lazy dog repeatedly."
    val docs = Seq(
      (1L, s"intro one. $shared tail A"),
      (2L, s"different lead-in text!! $shared closing B"),
      (3L, "completely unrelated content with no copied span at all " +
        "padded out to a comparable length for fairness 0123456789")
    ).toDF("doc_id", "text")
    val fps = Text.winnowFingerprints(docs, "doc_id", "text")
    val pairs = Text.winnowOverlapPairs(fps, minShared = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs == Set((1L, 2L)))
    intercept[IllegalArgumentException](Text.winnowOverlapPairs(fps, 0))
  }

  test("winnowDecontaminate: a corpus doc quoting a benchmark span " +
    ">= k+w-1 bytes is flagged with its distinct-hash hit count, clean " +
    "docs are absent, position-independent") {
    val leak = "What is the capital of France? Paris is the capital city."
    val benchmark = Seq((900L, s"Q17. $leak Answer key follows."))
      .toDF("doc_id", "text")
    val docs = Seq(
      (1L, s"original page content here, then quoted: $leak and more."),
      (2L, "a completely clean document with its own words only, " +
        "padded to a comparable length 0123456789 abcdefghij")
    ).toDF("doc_id", "text")
    val got = Text.winnowDecontaminate(docs, "doc_id", "text", benchmark)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got.contains(1L) && got(1L) >= 1L)
    assert(!got.contains(2L))
    // position independence: the same leak at the START of the doc is
    // still caught (fingerprint values carry no position)
    val moved = Seq((3L, s"$leak — prefixed nothing, different tail."))
      .toDF("doc_id", "text")
    val got2 = Text.winnowDecontaminate(moved, "doc_id", "text", benchmark)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got2.contains(3L) && got2(3L) >= 1L)
    // store/probe split ≡ direct (the bandTable store discipline): the
    // persisted fingerprint set answers every batch identically, and a
    // parquet round trip keeps the _params stamp
    val store = Text.winnowStore(benchmark, "doc_id", "text")
    val viaStore = Text.winnowDecontaminateAgainst(
      docs, "doc_id", "text", store)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(viaStore === got)
    val tmp = java.nio.file.Files
      .createTempDirectory("graft_winnow_store").toString
    store.write.mode("overwrite").parquet(tmp)
    val reread = spark.read.parquet(tmp)
    assert(Text.winnowDecontaminateAgainst(docs, "doc_id", "text", reread)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap === got)
    // (k, w) drift must fail loudly — a differently-sampled fingerprint
    // space silently reports zero hits otherwise
    val eDrift = intercept[IllegalArgumentException] {
      Text.winnowDecontaminateAgainst(docs, "doc_id", "text", store, k = 16)
    }
    assert(eDrift.getMessage.contains("wn:k32:w8"))
  }

  test("winnowOverlapPairs maxDocFreq: a boilerplate span shared by ALL " +
    "docs is dropped (MOSS's over-common k-gram rule), genuine pair-wise " +
    "copies survive") {
    val boiler = "standard license header present in every single document " +
      "of this corpus without exception."
    val copied = "a genuinely copied passage that only two documents share!"
    val docs = Seq(
      (1L, s"$boiler $copied unique tail one"),
      (2L, s"$boiler $copied unique tail two"),
      (3L, s"$boiler qqq www eee rrr ttt yyy uuu iii"),
      (4L, s"$boiler 111 222 333 444 555 666 777 888")
    ).toDF("doc_id", "text")
    val fps = Text.winnowFingerprints(docs, "doc_id", "text")
    // uncapped: the boilerplate makes EVERY pair an "overlap"
    val all = Text.winnowOverlapPairs(fps, minShared = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(all.size > 1 && all.contains((3L, 4L)))
    // capped at doc-freq 2: boilerplate (df=4) drops, the copied
    // passage (df=2) survives — only the genuine pair remains
    val capped = Text.winnowOverlapPairs(fps, minShared = 2,
      maxDocFreq = Some(2L))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(capped == Set((1L, 2L)))
    intercept[IllegalArgumentException](
      Text.winnowOverlapPairs(fps, 2, Some(0L)))
  }

  test("capPerGroup: hot group capped at k, small group kept whole, " +
    "selection order-independent and seed-keyed, cap guard") {
    val docs = ((1L to 100L).map(i => (i, "hot")) ++
      Seq((200L, "cold"), (201L, "cold"))).toDF("doc_id", "source")
    val got = Text.capPerGroup(docs, "source", "doc_id", 5)
      .collect().map(r => (r.getString(0), r.getLong(1)))
    assert(got.count(_._1 == "hot") == 5)
    assert(got.filter(_._1 == "cold").map(_._2).toSet == Set(200L, 201L))
    // the kept set is a pure function of (seed, id): reversing input
    // order changes nothing
    val reversed = Text.capPerGroup(
      docs.orderBy(col("doc_id").desc), "source", "doc_id", 5)
      .collect().map(r => (r.getString(0), r.getLong(1)))
    assert(got.toSet == reversed.toSet)
    // a different seed draws a different (still deterministic) sample
    val otherSeed = Text.capPerGroup(docs, "source", "doc_id", 5, "cap2:")
      .collect().map(r => (r.getString(0), r.getLong(1)))
    assert(otherSeed.toSet != got.toSet)
    assert(otherSeed.count(_._1 == "hot") == 5)
    intercept[IllegalArgumentException](
      Text.capPerGroup(docs, "source", "doc_id", 0))
  }

  test("capTokensPerGroup: admits in rank order until the token budget, " +
    "inclusive prefix-sum semantics, small group whole, budget guard") {
    // every doc is 4 tokens → budget 10 admits exactly the first 2 docs
    // of the hot group (cum 4, 8; the third would hit 12 > 10)
    val docs = ((1L to 50L).map(i => (i, "hot", "w x y z")) ++
      Seq((200L, "cold", "a b"), (201L, "cold", "c d")))
      .toDF("doc_id", "source", "text")
    val got = Text.capTokensPerGroup(docs, "source", "doc_id", "text", 10L)
      .select("source", "doc_id", "n_tokens", "cum_tokens")
      .as[(String, Long, Long, Long)].collect()
    assert(got.count(_._1 == "hot") == 2, got.mkString(","))
    // cold group fits whole (2 + 2 = 4 <= 10), cumulative sums dense
    assert(got.filter(_._1 == "cold").map(_._4).sorted.toSeq == Seq(2L, 4L))
    // the admitted hot docs are the rank-order prefix: re-running with a
    // LARGER budget yields a superset (prefix-truncation growth rule)
    val wider = Text.capTokensPerGroup(docs, "source", "doc_id", "text", 20L)
      .select("doc_id").as[Long].collect().toSet
    assert(got.map(_._2).toSet.subsetOf(wider))
    // boundary doc that exactly lands on the budget is KEPT (inclusive)
    val exact = Text.capTokensPerGroup(docs, "source", "doc_id", "text", 8L)
    assert(exact.where(col("source") === "hot").count() == 2)
    intercept[IllegalArgumentException](
      Text.capTokensPerGroup(docs, "source", "doc_id", "text", 0L))
  }

  test("capTokensPerGroup: a NULL-text doc counts 0 tokens and cannot " +
    "poison its group's cumulative sum (every later doc still admitted)") {
    // null doc ranks SOMEWHERE in the seeded order; whatever its slot,
    // the other three 2-token docs must all be admitted under budget 6
    // (a NULL addend would null cum_tokens for every doc after it)
    val docs = Seq(
      (1L, "g", "a b"), (2L, "g", null.asInstanceOf[String]),
      (3L, "g", "c d"), (4L, "g", "e f"))
      .toDF("doc_id", "source", "text")
    val got = Text.capTokensPerGroup(docs, "source", "doc_id", "text", 6L)
      .select("doc_id", "n_tokens", "cum_tokens")
      .as[(Long, Long, Long)].collect()
    assert(got.length == 4, got.mkString(","))
    assert(got.find(_._1 == 2L).get._2 == 0L)
    assert(got.map(_._3).max == 6L)
  }

  test("mixtureByTokens: budgets = normalized weight shares (floored), " +
    "unlisted sources drop, per-source admission honors its own budget") {
    // weights 3:1 over 16 total → budgets 12 and 4; each doc is 4 tokens
    val b = Text.mixtureBudgets(Map("a" -> 0.75, "b" -> 0.25), 16L)
    assert(b === Map("a" -> 12L, "b" -> 4L))
    // unnormalized weights allocate identically (normalization is by sum)
    assert(Text.mixtureBudgets(Map("a" -> 3.0, "b" -> 1.0), 16L) === b)
    val docs = ((1L to 10L).map(i => (i, "a", "w x y z")) ++
      (20L to 29L).map(i => (i, "b", "w x y z")) ++
      Seq((99L, "unlisted", "w x y z"))).toDF("doc_id", "source", "text")
    val got = Text.mixtureByTokens(docs, "source", "doc_id", "text",
        Map("a" -> 0.75, "b" -> 0.25), 16L)
      .select("source", "doc_id").as[(String, Long)].collect()
    assert(got.count(_._1 == "a") == 3)  // 12 tokens / 4 per doc
    assert(got.count(_._1 == "b") == 1)  // 4 tokens
    assert(!got.exists(_._1 == "unlisted"), "mixture is a whitelist")
    // a weight whose share FLOORS to zero tokens drops the source like
    // an unlisted one — without the filter a zero-token doc would pass
    // `cum 0 <= budget 0` and slip into the mix
    val docsZ = docs.union(Seq((30L, "c", "")).toDF("doc_id", "source", "text"))
    val zb = Text.mixtureByTokens(docsZ, "source", "doc_id", "text",
        Map("a" -> 0.999, "c" -> 0.0001), 16L)
      .select("source").as[String].collect()
    assert(!zb.contains("c"), s"zero-floored budget must drop the source: ${zb.toSeq}")
    assert(zb.nonEmpty)
    // guards: empty table, non-positive weight, zero budget, and an
    // allocation where EVERY share floors to zero (loud, not empty)
    intercept[IllegalArgumentException](Text.mixtureBudgets(Map.empty, 10L))
    intercept[IllegalArgumentException](
      Text.mixtureBudgets(Map("a" -> 0.0), 10L))
    intercept[IllegalArgumentException](
      Text.mixtureBudgets(Map("a" -> 1.0), 0L))
    intercept[IllegalArgumentException](
      Text.mixtureBudgets(Map("a" -> 1.0, "b" -> 1.0, "c" -> 1.0), 2L))
  }

  test("capPerGroupIncremental: rolling admission — batch 1 vs an empty " +
    "store ≡ the batch cap, batch 2 gets only the remaining quota, full " +
    "groups admit nothing, and parameter drift fails loudly") {
    val cap = 5
    val empty = Text.capCounts(
      Seq.empty[(Long, String)].toDF("doc_id", "source"), "source", cap)
    val b1 = ((1L to 100L).map(i => (i, "hot")) ++
      Seq((200L, "cold"))).toDF("doc_id", "source")
    val a1 = Text.capPerGroupIncremental(b1, "source", "doc_id", cap, empty)
      .collect().map(r => (r.getString(0), r.getLong(1))).toSet
    val batchCap = Text.capPerGroup(b1, "source", "doc_id", cap)
      .collect().map(r => (r.getString(0), r.getLong(1))).toSet
    assert(a1 === batchCap) // first batch ≡ the plain batch cap
    assert(a1.count(_._1 == "hot") == cap && a1.contains(("cold", 200L)))
    // batch 2: "hot" is FULL (admits nothing), "cold" has quota 4 left,
    // "fresh" is absent from the store (admits up to cap)
    val counts = Text.capCountsUpdate(
      empty, a1.toSeq.toDF("source", "doc_id"), "source", cap)
    val b2 = ((101L to 150L).map(i => (i, "hot")) ++
      (210L to 230L).map(i => (i, "cold")) ++
      (300L to 302L).map(i => (i, "fresh"))).toDF("doc_id", "source")
    val a2 = Text.capPerGroupIncremental(b2, "source", "doc_id", cap, counts)
      .collect().map(r => (r.getString(0), r.getLong(1))).toSet
    assert(a2.count(_._1 == "hot") == 0, s"full group must admit nothing: $a2")
    assert(a2.count(_._1 == "cold") == cap - 1) // 1 already admitted
    assert(a2.count(_._1 == "fresh") == 3) // whole small group fits
    // totals per group never exceed the cap after the merge
    val merged = Text.capCountsUpdate(
      counts, a2.toSeq.toDF("source", "doc_id"), "source", cap)
      .select("source", "n_kept")
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(merged.values.forall(_ <= cap))
    assert(merged === Map("hot" -> 5L, "cold" -> 5L, "fresh" -> 3L))
    // drift guards: a store accumulated under a different cap or seed
    // would silently over/under-fill groups — refuse it
    intercept[IllegalArgumentException](
      Text.capPerGroupIncremental(b2, "source", "doc_id", cap + 1, counts))
    intercept[IllegalArgumentException](
      Text.capPerGroupIncremental(
        b2, "source", "doc_id", cap, counts, seed = "cap2:"))
  }

  test("hashSplit: total single-label coverage, proportions near weights, " +
    "assignment stable under corpus growth, seed-keyed, guards") {
    val splits = Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1)
    val docs = (1L to 4000L).map(Tuple1(_)).toDF("doc_id")
    val got = Text.hashSplit(docs, "doc_id", splits)
      .select("doc_id", "split").as[(Long, String)].collect()
    assert(got.length === 4000 && got.map(_._1).distinct.length === 4000)
    val byLabel = got.groupBy(_._2).view.mapValues(_.length).toMap
    assert(byLabel.keySet === Set("train", "val", "test"))
    assert(byLabel("train") > 3000 && byLabel("train") < 3400,
      s"~80% expected: $byLabel")
    assert(byLabel("val") > 250 && byLabel("val") < 550, s"$byLabel")
    // STABILITY: the assignment of the first 1000 docs is identical
    // whether the corpus has 1000 or 4000 docs — the property that
    // keeps yesterday's train doc out of tomorrow's validation set
    val small = Text.hashSplit(
      (1L to 1000L).map(Tuple1(_)).toDF("doc_id"), "doc_id", splits)
      .select("doc_id", "split").as[(Long, String)].collect().toMap
    assert(got.filter(_._1 <= 1000L).forall { case (id, s) => small(id) == s })
    // a different seed re-deals (still total, still single-label)
    val reseed = Text.hashSplit(docs, "doc_id", splits, "epoch2:")
      .select("doc_id", "split").as[(Long, String)].collect().toMap
    assert(got.exists { case (id, s) => reseed(id) != s })
    intercept[IllegalArgumentException](
      Text.hashSplit(docs, "doc_id", Seq.empty))
    intercept[IllegalArgumentException](
      Text.hashSplit(docs, "doc_id", Seq("a" -> 1.0, "b" -> 0.0)))
  }

  test("pplBucketWith: sample thresholds apply to a different scored " +
    "frame (the fixed-thresholds-from-a-sample production shape)") {
    val sample = (1 to 10)
      .map(i => (i.toLong, i.toDouble)).toDF("doc_id", "logprob")
    val scored = Seq((100L, -5.0), (101L, 5.5), (102L, 99.0))
      .toDF("doc_id", "logprob")
    val got = Text.pplBucketWith(scored, sample, buckets = 5)
      .collect().map(r => r.getLong(0) -> r.getInt(2)).toMap
    assert(got == Map(100L -> 1, 101L -> 3, 102L -> 5))
  }

  test("bm25TopK: rare-term idf outranks stopword matches, repeated-term " +
    "tf beats single occurrence, length normalization demotes the padded " +
    "twin, ranks are dense from 1 with ties to the smaller id") {
    val corpus = Seq(
      // 10: contains the rare query term once
      (10L, "zebra walks in the field"),
      // 11: same terms and length as 10 but zebra twice (higher tf with
      // everything else equal) → strictly dominates 10
      (11L, "zebra meets the zebra field"),
      // 12: the rare term once but PADDED long → length-normalized below 10
      (12L, "zebra " + ("filler words here again more " * 6).trim),
      // 13: shares only the stopword-ish common term "the"
      (13L, "the cat sleeps on the mat"),
      // 14: no overlap at all → absent from results
      (14L, "completely unrelated content entirely")
    ).toDF("doc_id", "text")
    val queries = Seq((1L, "the zebra")).toDF("doc_id", "text")
    val got = Text.bm25TopK(corpus, "doc_id", "text",
      queries, "doc_id", "text", k = 10)
      .orderBy("rank")
      .as[(Long, Long, Int, Double)].collect()
    assert(got.map(_._3).toSeq == (1 to got.length), "dense ranks from 1")
    val order = got.map(_._2).toSeq
    // every term-sharing doc present exactly once; no-overlap doc absent
    assert(order.toSet == Set(10L, 11L, 12L, 13L) && !order.contains(14L))
    // tf: doc 11 (zebra×2) above doc 10 (zebra×1)
    assert(order.indexOf(11L) < order.indexOf(10L))
    // length normalization: padded doc 12 below doc 10
    assert(order.indexOf(10L) < order.indexOf(12L))
    // scores strictly non-increasing and positive
    val scores = got.map(_._4).toSeq
    assert(scores.zip(scores.tail).forall { case (a, b) => a >= b })
    assert(scores.forall(_ > 0.0))
    // k truncation + query-term multiplicity collapses: "zebra zebra"
    // scores identically to "zebra"
    val q2 = Seq((1L, "zebra zebra")).toDF("doc_id", "text")
    val q1 = Seq((1L, "zebra")).toDF("doc_id", "text")
    val a = Text.bm25TopK(corpus, "doc_id", "text", q2, "doc_id", "text", 2)
      .as[(Long, Long, Int, Double)].collect().toSeq
    val b = Text.bm25TopK(corpus, "doc_id", "text", q1, "doc_id", "text", 2)
      .as[(Long, Long, Int, Double)].collect().toSeq
    assert(a == b && a.length == 2)
    intercept[IllegalArgumentException](
      Text.bm25TopK(corpus, "doc_id", "text", q1, "doc_id", "text", 0))
  }
}
