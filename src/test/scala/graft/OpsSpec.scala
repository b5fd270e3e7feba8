package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.images.ImageSynth
import graft.ops.Multimodal

class OpsSpec extends AnyFunSuite {
  private implicit lazy val spark: org.apache.spark.sql.SparkSession = SparkTestBase.spark

  private lazy val images = ImageSynth.imagesDf(spark, nPages = 24, nHosts = 4,
    w = 32, h = 32, partitions = 2).cache()

  test("multimodal: decode + metadata extraction over binary column") {
    val metas = Multimodal.imageMeta(images).collect()
    assert(metas.length == 24)
    assert(metas.forall(m => m.w == 32 && m.h == 32 && m.fmt == "png"))
    // phash recomputed from decoded pixels matches the table's phash
    val byId = images.select("image_id", "phash").collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    metas.foreach(m => assert(m.phash == byId(m.id), s"phash mismatch for ${m.id}"))
  }

  test("multimodal: resize produces decodable images of the target size") {
    val small = Multimodal.resize(images, 8, 8).collect()
    assert(small.length == 24)
    small.foreach { r =>
      val (_, w, h) = ImageSynth.decodeRgb(r.bytes)
      assert(w == 8 && h == 8)
    }
  }

  test("multimodal: feature extraction yields normalized histograms") {
    val feats = Multimodal.imageFeatures(images).collect()
    assert(feats.forall(_.feature.length == 48))
    feats.foreach { f =>
      val sum = f.feature.sum
      assert(math.abs(sum - 3.0) < 1e-3, s"histogram should sum to 3 (R+G+B), got $sum")
    }
    // deterministic: same input -> same feature
    val again = Multimodal.imageFeatures(images).collect()
    assert(feats.sortBy(_.id).zip(again.sortBy(_.id))
      .forall { case (a, b) => a.feature.sameElements(b.feature) })
  }

  test("multimodal: non-WAV/non-Y4M payloads take the stub fallback, plumbing total") {
    // piping the PNG corpus through the audio/video branches exercises the
    // clearly-marked byte-window fallback (real codecs are MediaSpec's job)
    val audio = Multimodal.audioFeatures(images).collect()
    assert(audio.length == 24)
    assert(audio.forall(_.rms.nonEmpty))
    val video = Multimodal.videoFrameSample(images, everyK = 2).collect()
    assert(video.length == 24)
    assert(video.forall(v => v.n_frames > 0 && v.frame_phashes.length == v.n_frames))
  }

  test("pair-mining ops emit unsorted streams: no global Sort in the plan (oracle sort lives in Queries)") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    def globalSorts(df: org.apache.spark.sql.DataFrame): Int =
      df.queryExecution.optimizedPlan.collect {
        case s: org.apache.spark.sql.catalyst.plans.logical.Sort if s.global => s
      }.size
    val docs = Seq((1L, "a b c d e"), (2L, "a b c d f"), (3L, "x y z w v"))
      .toDF("doc_id", "text")
    val emb = Seq((1L, Seq.fill(64)(0.5)), (2L, Seq.fill(64)(0.5)))
      .toDF("vec_id", "embedding")
    assert(globalSorts(graft.ops.Dedup.ngramJaccardPairs(docs, "doc_id", "text", 0.1)) == 0)
    assert(globalSorts(graft.ops.Dedup.minhashLshCandidates(docs, "doc_id", "text")) == 0)
    assert(globalSorts(graft.ops.Dedup.phashNearDupPairs(
      Seq((1L, 7L), (2L, 7L)).toDF("id", "ph"), "id", "ph")) == 0)
    assert(globalSorts(graft.ops.Similarity.cosineNearDupPairs(emb, "vec_id", "embedding",
      dim = 64, threshold = 0.9)) == 0)
    // the top-k ANN wrappers and the grouped-stats ops are sort-free too
    // (their Window ORDER BY is per-partition, not a global Sort)
    assert(globalSorts(graft.ops.Similarity.cosineTopK(emb, emb,
      "vec_id", "embedding", k = 1)) == 0)
    assert(globalSorts(graft.ops.Similarity.lshNearest(emb, emb,
      "vec_id", "embedding", nBits = 2, k = 1)) == 0)
    assert(globalSorts(graft.ops.Similarity.rhpNearest(emb, emb,
      "vec_id", "embedding", dim = 64, nBits = 4, nTables = 2, k = 1)) == 0)
    val cents = Seq((1, Seq.fill(64)(0.5))).toDF("cid", "centroid")
    assert(globalSorts(graft.ops.Similarity.ivfNearest(emb, emb, cents,
      "vec_id", "embedding", nProbe = 1, k = 1)) == 0)
    assert(globalSorts(graft.ops.Dedup.exactStats(docs, "text", "doc_id")) == 0)
    assert(globalSorts(graft.ops.TextAnalysis.qualityByLang(
      docs.withColumn("lang", org.apache.spark.sql.functions.lit("en"))
        .withColumn("n_chars", org.apache.spark.sql.functions.length(col("text"))),
      "text", "lang", "n_chars")) == 0)
    // the query wrapper re-adds the oracle's deterministic order
    assert(globalSorts(Queries.all("q_dedup_minhash_lsh")(spark, "/root/testdata/sf0.001")) == 1)
    assert(globalSorts(Queries.all("q_embed_cosine_topk")(spark, "/root/testdata/sf0.001")) == 1)
  }

  test("ngram Jaccard skew cap: pre-collect cap == post-collect cap on a hot-shingle corpus") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    // every doc shares one ubiquitous sentence, so its trigrams have
    // df = 40 >> maxDf = 8 — under the r5 plan each hot trigram built a
    // 40-entry aggregation buffer before the cap filter ran (a multi-GB
    // buffer at web scale); the r6 plan must drop them BEFORE any list
    // materializes, with output identical to the post-collect cap
    val docs = (0 until 40).map { i =>
      val pair = i / 2 // docs 2k and 2k+1 share a low-df tail (df = 2)
      (i.toLong, s"the quick brown fox jumps over tail$pair side$pair end$pair fin$i")
    }.toDF("doc_id", "text")
    val maxDf = 8L
    val q = graft.ops.Dedup.ngramJaccardPairs(docs, "doc_id", "text",
      threshold = 0.01, maxDf = maxDf)
    val got = q.orderBy(col("da"), col("db")).collect().toSeq
    // reference: the round-5 shape — collect posting lists FIRST, cap as a
    // size filter afterwards (fine at test scale; the OOM was scale-only)
    val sh = graft.ops.Dedup.shingles(docs, "doc_id", "text", 3)
    val lists = sh.groupBy(col("shingle")).agg(collect_set(col("doc_id")).as("ids"))
      .where(size(col("ids")) <= maxDf).select(col("ids"))
    val sizes = lists.select(explode(col("ids")).as("doc_id"))
      .groupBy(col("doc_id")).agg(count(lit(1)).as("sz"))
    val inter = lists.where(size(col("ids")) >= 2)
      .select(explode(col("ids")).as("da"), col("ids"))
      .select(col("da"), explode(col("ids")).as("db"))
      .where(col("da") < col("db"))
      .groupBy(col("da"), col("db")).agg(count(lit(1)).as("inter"))
    val ref = inter
      .join(sizes.select(col("doc_id").as("da"), col("sz").as("sa")), Seq("da"))
      .join(sizes.select(col("doc_id").as("db"), col("sz").as("sb")), Seq("db"))
      .withColumn("jaccard",
        round(col("inter").cast("double") / (col("sa") + col("sb") - col("inter")), 4))
      .where(col("jaccard") >= 0.01)
      .select(col("da"), col("db"), col("jaccard"))
      .orderBy(col("da"), col("db")).collect().toSeq
    assert(got.nonEmpty, "planted near-dups must survive the cap")
    assert(got == ref)
    // plan shape: the posting-list aggregate (collect_list) must sit ABOVE
    // a LeftAnti join (the hot-key drop) — cap strictly before collect. The
    // lists are persisted inside the op, so the aggregate lives in the
    // cached subtree's physical plan.
    val cachedStrs = q.queryExecution.optimizedPlan.collect {
      case im: org.apache.spark.sql.execution.columnar.InMemoryRelation =>
        im.cachedPlan.toString
    }
    val withCollect = cachedStrs.filter(_.contains("collect_list"))
    assert(withCollect.nonEmpty, "capped posting lists must be the cached artifact")
    withCollect.foreach { s =>
      val agg = s.indexOf("collect_list")
      val anti = s.indexOf("LeftAnti")
      assert(anti > agg && agg >= 0,
        "the collect_list aggregate must be fed by the hot-key anti join below it")
    }
  }

  test("minhash LSH skew cap: degenerate bucket dropped pre-collect, output unchanged") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    // 30 byte-identical docs collapse to ONE bucket per band (size 30 >
    // maxBucket = 8) — dropped by the cap in both shapes; the two distinct
    // near-dup docs must still surface as the only candidate pair
    // docs 100/101 are byte-identical: every band matches, so the candidate
    // pair is guaranteed regardless of which minhash values the text draws
    val docs = ((0 until 30).map(i => (i.toLong, "same same same same same")) ++
      Seq((100L, "alpha beta gamma delta epsilon"),
        (101L, "alpha beta gamma delta epsilon"))).toDF("doc_id", "text")
    val got = graft.ops.Dedup.minhashLshCandidates(docs, "doc_id", "text",
      maxBucket = 8).orderBy(col("da"), col("db")).collect().toSeq
    assert(got.map(r => (r.getLong(0), r.getLong(1))) == Seq((100L, 101L)))
  }

  test("centroid assignment kernel: bit-identical to the Catalyst rank shape (ties, NaN)") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.expressions.Window
    val dim = 16
    def vec(seed: Int): Seq[Double] =
      (0 until dim).map(j => math.sin(seed * 31 + j * 7.0))
    val corpus = (1 to 60).map(i => (i.toLong, vec(i)))
      .toDF("vec_id", "embedding")
    // centroids include an exact duplicate (cids 3 and 4) so rounded sims
    // tie and the cid tie-break decides
    val cents = Seq((1, vec(2)), (2, vec(10)), (3, vec(20)), (4, vec(20)))
      .toDF("cid", "centroid")
    // kernel path (via the public residuals wrapper: list == assignment)
    val got = graft.ops.Similarity.residuals(corpus, cents, "vec_id", "embedding")
      .select(col("vid"), col("list")).collect()
      .map(r => r.getLong(0) -> r.getInt(1)).toMap
    // Catalyst reference: the r5 crossJoin + round(cosine, 6) + rank shape
    def dotAgg(a: org.apache.spark.sql.Column, b: org.apache.spark.sql.Column) =
      aggregate(zip_with(a, b, (x, y) => x * y), lit(0.0), (acc, v) => acc + v)
    val w = Window.partitionBy(col("vid")).orderBy(col("csim").desc, col("cid"))
    val ref = corpus.select(col("vec_id").as("vid"), col("embedding").cast("array<double>").as("e"))
      .crossJoin(cents.select(col("cid"), col("centroid").cast("array<double>").as("cen")))
      .withColumn("csim", round(
        dotAgg(col("e"), col("cen")) /
          sqrt(dotAgg(col("e"), col("e")) * dotAgg(col("cen"), col("cen"))), 6))
      .withColumn("crn", row_number().over(w)).where(col("crn") === 1)
      .select(col("vid"), col("cid")).collect()
      .map(r => r.getLong(0) -> r.getInt(1)).toMap
    assert(got == ref)
    // duplicate-centroid ties resolve to the smaller cid, never 4
    assert(!got.values.exists(_ == 4))
    // zero-norm vectors: the Catalyst shape threw under ANSI division; the
    // kernel assigns them deterministically (NaN ranks greatest, min cid) —
    // strictly more permissive, and no caller feeds zero vectors (the
    // k-means path l2-normalizes and the bench synthesizes id+1)
    val zeroAssign = graft.ops.Similarity.residuals(
      Seq((990L, Seq.fill(dim)(0.0))).toDF("vec_id", "embedding"),
      cents, "vec_id", "embedding")
      .select(col("vid"), col("list")).collect()
      .map(r => r.getLong(0) -> r.getInt(1)).toMap
    assert(zeroAssign(990L) == 1)
  }

  test("bpeTrain learns the classic merge sequence (counts, ties, application)") {
    import spark.implicits._
    import graft.ops.TextAnalysis
    // Sennrich's example vocabulary, 3 copies to prove scale-invariance
    val text = (Seq.fill(5)("low") ++ Seq.fill(2)("lower") ++
      Seq.fill(6)("newest") ++ Seq.fill(3)("widest")).mkString(" ")
    val docs = (1L to 3L).map(i => (i, text)).toDF("doc_id", "text")
    val merges = TextAnalysis.bpeTrain(docs, "doc_id", "text", nMerges = 8)
      .collect().map(r => (r.getInt(0), r.getString(1), r.getString(2),
        r.getLong(3))).sortBy(_._1)
    // independently verified with a reference BPE trainer (per-doc counts
    // x3 docs); ties at 9 and 6 resolve lexicographically
    assert(merges.toSeq == Seq(
      (0, "e", "s", 27L), (1, "es", "t", 27L), (2, "l", "o", 21L),
      (3, "lo", "w", 21L), (4, "e", "w", 18L), (5, "ew", "est", 18L),
      (6, "n", "ewest", 18L), (7, "d", "est", 9L)))
    // merge application is left-to-right non-overlapping
    assert(TextAnalysis.mergeSymbols(Seq("a", "a", "a"), "a", "a") ==
      Seq("aa", "a"))
    assert(TextAnalysis.mergeSymbols(Seq("x"), "a", "a") == Seq("x"))
    // training stops early when no pair clears minPairCount
    val tiny = Seq((1L, "ab ab cd")).toDF("doc_id", "text")
    val m2 = TextAnalysis.bpeTrain(tiny, "doc_id", "text", nMerges = 10,
      minPairCount = 2L).collect()
    assert(m2.length == 1) // only (a,b) has count 2; (c,d) count 1 stops it
    assert(m2.head.getString(1) == "a" && m2.head.getString(2) == "b")
  }

  test("bpeEncode applies trained merges corpus-wide (held-out words, zero-token docs)") {
    import spark.implicits._
    import graft.ops.TextAnalysis
    val text = (Seq.fill(5)("low") ++ Seq.fill(2)("lower") ++
      Seq.fill(6)("newest") ++ Seq.fill(3)("widest")).mkString(" ")
    val train = Seq((1L, text)).toDF("doc_id", "text")
    val merges = TextAnalysis.bpeTrain(train, "doc_id", "text", nMerges = 8)
    val docs = Seq(
      (1L, "low lower lowest"), // 1 + 3 + 2 (lowest held out: low,est)
      (2L, "newest newer"),     // 1 + 4 (newer held out: n,ew,e,r)
      (3L, "wide west widest"), // 4 + 2 + 3
      (4L, "")                  // token-less -> zeros, not a dropped row
    ).toDF("doc_id", "text")
    val out = TextAnalysis.bpeEncode(docs, "doc_id", "text", merges)
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    assert(out(1L) == ((3L, 6L)), s"got ${out(1L)}")
    assert(out(2L) == ((2L, 5L)), s"got ${out(2L)}")
    assert(out(3L) == ((3L, 9L)), s"got ${out(3L)}")
    assert(out(4L) == ((0L, 0L)), s"got ${out(4L)}")
    // the vocab-level segmentation view: held-out words merge partially
    val mseq = merges.collect().sortBy(_.getInt(0))
      .map(r => (r.getString(1), r.getString(2))).toSeq
    val segMap = TextAnalysis.bpeSegments(docs, "doc_id", "text", mseq)
      .collect().map(r => r.getString(0) -> r.getSeq[String](1)).toMap
    assert(segMap("lowest") == Seq("low", "est"))
    assert(segMap("newer") == Seq("n", "ew", "e", "r"))
    assert(segMap("newest") == Seq("newest"))
  }

  test("phash near-dup: pigeonhole banding equals brute-force ground truth") {
    import spark.implicits._
    val rnd = new scala.util.Random(42)
    val base = (0 until 200).map(i => (s"d$i", rnd.nextLong() & ((1L << 60) - 1)))
    // a twin within the radius for every 4th image: 1-3 deterministic flips
    val twins = base.zipWithIndex.collect { case ((id, ph), i) if i % 4 == 0 =>
      val mask = (0 until 1 + i % 3).map(j => 1L << ((i * 7 + j * 11) % 60))
        .reduce(_ | _)
      (s"t${id.drop(1)}", ph ^ mask)
    }
    val all = base ++ twins
    val got = graft.ops.Dedup.phashNearDupPairs(all.toDF("id", "ph"), "id", "ph",
        maxDist = 3, nBands = 4, bandBits = 15, bits = 60)
      .collect().map(r => (r.getString(0), r.getString(1), r.getInt(2))).toSet
    val want = (for {
      (a, pa) <- all; (b, pb) <- all
      if a < b && java.lang.Long.bitCount(pa ^ pb) <= 3
    } yield (a, b, java.lang.Long.bitCount(pa ^ pb))).toSet
    // pigeonhole with nBands > maxDist is EXACT: recall 1.0, not approximate
    assert(got == want)
    assert(got.size >= 50) // every planted twin found
    // degenerate buckets (all-identical hashes) drop at the cap, like maxDf
    val flat = (0 until 50).map(i => (s"f$i", 0L)).toDF("id", "ph")
    assert(graft.ops.Dedup.phashNearDupPairs(flat, "id", "ph",
      maxDist = 3, nBands = 4, bandBits = 15, bits = 60, maxBucket = 10)
      .count() == 0)
  }

  test("dedup clusters: connected components over candidate pairs") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    // components: {1,2,3} chain, {10,11}, {20,21,22} cycle
    val pairs = Seq((1L, 2L), (2L, 3L), (10L, 11L), (20L, 21L), (21L, 22L), (22L, 20L))
      .toDF("da", "db")
    val got = graft.ops.Dedup.dedupClusters(pairs).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 10L -> 10L, 11L -> 10L,
      20L -> 20L, 21L -> 20L, 22L -> 20L))
    // long path (diameter 16 → ~16 propagation rounds) still converges —
    // also the Lineage.cut regression guard: each round references the
    // prior labels twice, so without the per-check lineage cut this plan
    // would be ~4^8 leaves and the analyzer would wedge
    val path = (0L until 16L).map(i => (i, i + 1)).toDF("da", "db")
    val gotPath = graft.ops.Dedup.dedupClusters(path).collect()
    assert(gotPath.length == 17 && gotPath.forall(_.getLong(1) == 0L))
  }

  test("deterministic sampling: reproducible and composable") {
    import org.apache.spark.sql.functions.col
    val docs = spark.read.parquet("/root/testdata/sf0.01/documents.parquet")
    val s20 = graft.ops.Sampling.sampleByHash(docs, "doc_id", 0.2)
    val s20Again = graft.ops.Sampling.sampleByHash(docs, "doc_id", 0.2)
    assert(s20.collect().map(_.getLong(0)).sorted.sameElements(
      s20Again.collect().map(_.getLong(0)).sorted), "sampling must be replayable")
    // a 5% sample is a subset of the 20% sample (nested thresholds)
    val s05 = graft.ops.Sampling.sampleByHash(docs, "doc_id", 0.05)
      .collect().map(_.getLong(0)).toSet
    val s20Set = s20.collect().map(_.getLong(0)).toSet
    assert(s05.subsetOf(s20Set))
    // rate is approximately honored
    assert(math.abs(s20Set.size - 100) < 40, s"20% of 500 docs ~ 100, got ${s20Set.size}")
  }

  test("IVF ANN: trained quantizer, recall >= 0.9 on near-duplicates at >= 4x reduction") {
    import org.apache.spark.sql.functions.col
    import graft.ops.Similarity
    import spark.implicits._
    val emb = spark.read.parquet("/root/testdata/sf0.01/embeddings.parquet")
    val corpus = emb.select(col("vec_id"), col("embedding").cast("array<double>").as("embedding"))
    val rnd = new scala.util.Random(7)
    val probes = corpus.where(col("vec_id") < 40).collect()
      .map(r => (r.getLong(0), r.getSeq[Double](1).toArray))
      .map { case (id, e) =>
        val norm = math.sqrt(e.map(x => x * x).sum)
        (id, e.map(x => x + 0.25 * norm / math.sqrt(64) * rnd.nextGaussian()).toSeq)
      }.toSeq.toDF("vec_id", "embedding")
    val truth = Similarity.cosineTopK(corpus, probes, "vec_id", "embedding", 1)
      .select("qid", "neighbor").collect().map(r => (r.getLong(0), r.getLong(1))).toSet

    val k = 16
    val centroids = Similarity.kmeansCentroids(corpus, "vec_id", "embedding", k, iters = 3)
    assert(centroids.count() == k)
    // with nProbe=4 of 16 lists, candidates ~ 1/4 of the corpus
    val got = Similarity.ivfNearest(corpus, probes, centroids, "vec_id", "embedding",
      nProbe = 4, k = 5)
      .select("qid", "neighbor").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = truth.count(got.contains).toDouble / truth.size
    assert(recall >= 0.9, f"IVF recall only $recall%.2f")
  }

  test("PQ: deterministic encode; ADC recovers planted near-twins in top-5") {
    import org.apache.spark.sql.functions.col
    import graft.ops.Similarity
    import spark.implicits._
    val emb = spark.read.parquet("/root/testdata/sf0.01/embeddings.parquet")
    val corpus = emb.select(col("vec_id"), col("embedding").cast("array<double>").as("embedding"))
    val m = 8
    val ksub = 16
    val cb = Similarity.pqCodebooks(corpus, "vec_id", "embedding", 64, m, ksub, iters = 2)
    assert(cb.count() == m.toLong * ksub)
    val codes = Similarity.pqEncode(corpus, "vec_id", "embedding", cb, 64, m)
    val collected = codes.collect().map(r => r.getLong(0) -> r.getSeq[Int](1))
    assert(collected.length.toLong == corpus.count())
    collected.foreach { case (_, cs) =>
      assert(cs.length == m && cs.forall(c => c >= 1 && c <= ksub))
    }
    // codes are a pure function of (vector, codebooks) — physical layout free
    val again = Similarity.pqEncode(corpus.repartition(9), "vec_id", "embedding", cb, 64, m)
      .collect().map(r => r.getLong(0) -> r.getSeq[Int](1)).toMap
    assert(collected.toMap == again)
    // ADC search: probes perturbed from corpus vectors find their original
    val rnd = new scala.util.Random(11)
    val base = corpus.where(col("vec_id") < 40).collect()
      .map(r => (r.getLong(0), r.getSeq[Double](1).toArray))
    val probes = base.toSeq.map { case (id, e) =>
      val norm = math.sqrt(e.map(x => x * x).sum)
      (id, e.map(x => x + 0.15 * norm / math.sqrt(64) * rnd.nextGaussian()).toSeq)
    }.toDF("vec_id", "embedding")
    val got = Similarity.pqAdcTopK(codes, probes, cb, "vec_id", "embedding", 64, m, k = 5)
      .select("qid", "neighbor").collect().map(r => (r.getLong(0), r.getLong(1)))
      .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    val recall = base.count { case (id, _) => got.getOrElse(id, Set.empty).contains(id) }
    assert(recall >= 34, s"PQ ADC found only $recall/40 planted twins in top-5")
  }

  test("IVF+PQ: composed trained index recovers planted near-twins in top-5") {
    import org.apache.spark.sql.functions.col
    import graft.ops.Similarity
    import spark.implicits._
    val emb = spark.read.parquet("/root/testdata/sf0.01/embeddings.parquet")
    val corpus = emb.select(col("vec_id"), col("embedding").cast("array<double>").as("embedding"))
    val m = 8
    val centroids = Similarity.kmeansCentroids(corpus, "vec_id", "embedding", 8, iters = 2)
    val cb = Similarity.pqCodebooks(corpus, "vec_id", "embedding", 64, m, 16, iters = 2)
    val rnd = new scala.util.Random(23)
    val base = corpus.where(col("vec_id") < 40).collect()
      .map(r => (r.getLong(0), r.getSeq[Double](1).toArray))
    val probes = base.toSeq.map { case (id, e) =>
      val norm = math.sqrt(e.map(x => x * x).sum)
      (id, e.map(x => x + 0.1 * norm / math.sqrt(64) * rnd.nextGaussian()).toSeq)
    }.toDF("vec_id", "embedding")
    // nProbe=4 of 8 lists: candidates ~ half the corpus, then ADC-coded
    val got = Similarity.ivfPqNearest(corpus, probes, centroids, cb,
        "vec_id", "embedding", dim = 64, m = m, nProbe = 4, k = 5)
      .select("qid", "neighbor").collect().map(r => (r.getLong(0), r.getLong(1)))
      .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    val recall = base.count { case (id, _) => got.getOrElse(id, Set.empty).contains(id) }
    assert(recall >= 32, s"IVF+PQ found only $recall/40 planted twins in top-5")
    // residual variant (true IVFADC): codebooks trained on the residuals
    // (the artifact residual=true expects), same m — the coarse quantizer
    // explains most variance, so the same code budget quantizes residuals
    // with less distortion and recall must not drop below the raw variant
    val resid = Similarity.residuals(corpus, centroids, "vec_id", "embedding")
    val cbR = Similarity.pqCodebooks(resid, "vid", "r", 64, m, 16, iters = 2)
    val gotR = Similarity.ivfPqNearest(corpus, probes, centroids, cbR,
        "vec_id", "embedding", dim = 64, m = m, nProbe = 4, k = 5, residual = true)
      .select("qid", "neighbor").collect().map(r => (r.getLong(0), r.getLong(1)))
      .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    val recallR = base.count { case (id, _) => gotR.getOrElse(id, Set.empty).contains(id) }
    assert(recallR >= recall,
      s"residual IVFADC recall $recallR/40 below raw variant $recall/40 at equal m")
  }

  test("PQ codebook training: Lloyd's iterations do not increase distortion") {
    import org.apache.spark.sql.functions._
    import graft.ops.Similarity
    val emb = spark.read.parquet("/root/testdata/sf0.01/embeddings.parquet")
    val corpus = emb.select(col("vec_id"), col("embedding").cast("array<double>").as("embedding"))
    val m = 8
    def distortion(cb: org.apache.spark.sql.DataFrame): Double = {
      val subs = corpus.select(col("vec_id").as("vid"),
        posexplode(Similarity.subvectors(col("embedding"), 64, m)).as(Seq("sub", "sv")))
      subs.join(broadcast(cb), Seq("sub"))
        .withColumn("d", aggregate(zip_with(col("sv"), col("centroid"),
          (x, y) => (x - y) * (x - y)), lit(0.0), (acc, v) => acc + v))
        .groupBy(col("vid"), col("sub")).agg(min(col("d")).as("dmin"))
        .agg(avg(col("dmin"))).head().getDouble(0)
    }
    val d0 = distortion(Similarity.pqCodebooks(corpus, "vec_id", "embedding", 64, m, 16, iters = 0))
    val d2 = distortion(Similarity.pqCodebooks(corpus, "vec_id", "embedding", 64, m, 16, iters = 2))
    assert(d2 <= d0 + 1e-9, s"iters=2 distortion $d2 above iters=0 $d0")
    assert(d2 < d0 * 0.9, s"training barely helped: $d0 -> $d2")
  }

  test("rhp ANN: recall >= 0.9 on near-duplicates at >= 16x candidate reduction") {
    import org.apache.spark.sql.functions._
    import graft.ops.Similarity
    import spark.implicits._
    val emb = spark.read.parquet("/root/testdata/sf0.01/embeddings.parquet")
    val corpus = emb.select(col("vec_id"), col("embedding").cast("array<double>").as("embedding"))
    // plant near-duplicate probes (cos >= ~0.95 by construction): the
    // training-pipeline ANN use-case is near-dup retrieval over embeddings
    val rnd = new scala.util.Random(42)
    val probes = corpus.where(col("vec_id") < 50).collect()
      .map(r => (r.getLong(0), r.getSeq[Double](1).toArray))
      .map { case (id, e) =>
        val norm = math.sqrt(e.map(x => x * x).sum)
        (id, e.map(x => x + 0.25 * norm / math.sqrt(64) * rnd.nextGaussian()).toSeq)
      }.toSeq.toDF("vec_id", "embedding")
    val nProbes = 50L
    val n = corpus.count()
    // ground truth: exact top-1 per probe (should be the planted original)
    val truth = Similarity.cosineTopK(corpus, probes, "vec_id", "embedding", 1)
      .select("qid", "neighbor").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(truth.count(t => t._1 == t._2) >= 45, "planted probes should mostly rank their original first")

    val cand = Similarity.rhpCandidates(corpus, probes, "vec_id", "embedding", dim = 64)
    val nCand = cand.count()
    val reduction = (n * nProbes).toDouble / nCand
    assert(reduction >= 16.0, f"candidate reduction only $reduction%.1fx")

    val got = Similarity.rhpNearest(corpus, probes, "vec_id", "embedding", dim = 64, k = 5)
      .select("qid", "neighbor").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = truth.count(got.contains).toDouble / truth.size
    assert(recall >= 0.9, f"recall@1-in-5 only $recall%.2f at $reduction%.1fx reduction")
  }

  test("embedding near-dup pairs: planted twins found, reported sims honest") {
    import org.apache.spark.sql.functions._
    import graft.ops.Similarity
    import spark.implicits._
    val emb = spark.read.parquet("/root/testdata/sf0.01/embeddings.parquet")
    val base = emb.select(col("vec_id"), col("embedding").cast("array<double>").as("embedding"))
    val rnd = new scala.util.Random(7)
    val twins = base.where(col("vec_id") < 30).collect()
      .map(r => (r.getLong(0), r.getSeq[Double](1).toArray))
      .map { case (id, e) =>
        val norm = math.sqrt(e.map(x => x * x).sum)
        (id + 100000, e.map(x => x + 0.05 * norm / math.sqrt(64) * rnd.nextGaussian()).toSeq)
      }.toSeq.toDF("vec_id", "embedding")
    val corpus = base.union(twins)
    val pairs = Similarity.cosineNearDupPairs(corpus, "vec_id", "embedding",
      dim = 64, threshold = 0.95).collect()
    // soundness: every reported pair really is >= threshold, ordered a < b
    pairs.foreach { r =>
      assert(r.getLong(0) < r.getLong(1))
      assert(r.getDouble(2) >= 0.95)
    }
    // recall: nearly all 30 planted twin pairs surface (multi-table LSH)
    val twinPairs = pairs.map(r => (r.getLong(0), r.getLong(1)))
      .count { case (a, b) => b == a + 100000 }
    assert(twinPairs >= 28, s"only $twinPairs/30 planted twin pairs found")
    // no false positives among non-twin pairs at this threshold (corpus is
    // uniform-random: max non-planted cosine ~0.5)
    assert(pairs.length == twinPairs)

    // skew guard: identical vectors land in the same bucket in EVERY table
    // — the degenerate quadratic case the maxBucket cap exists for
    val dup = base.where(col("vec_id") === 0).head.getSeq[Double](1)
    val clones = (0 until 12).map(i => (200000L + i, dup)).toDF("vec_id", "embedding")
    val uncapped = Similarity.cosineNearDupPairs(clones, "vec_id", "embedding",
      dim = 64, threshold = 0.95)
    assert(uncapped.count() == 12 * 11 / 2)
    val capped = Similarity.cosineNearDupPairs(clones, "vec_id", "embedding",
      dim = 64, threshold = 0.95, maxBucket = 8)
    assert(capped.count() == 0, "over-cap buckets must not enter the pair join")
  }

  test("language-ID heuristic: recovers the language from text alone") {
    import org.apache.spark.sql.functions._
    import graft.ops.TextAnalysis
    import spark.implicits._
    val docs = Seq(
      ("de", "der hund und die katze das ist nicht ein problem"),
      ("en", "the cat and the dog of the house is in that room"),
      ("es", "el perro y los gatos es una casa que existe"),
      ("fr", "le chien et la maison est une belle chose dans paris"),
      ("zh", "这 是 一个 简单 的 测试 文本 不 难")).toDF("expected", "text")
    val got = docs.select(col("expected"), TextAnalysis.detectLang(col("text")).as("got"))
      .collect().map(r => (r.getString(0), r.getString(1)))
    got.foreach { case (want, pred) => assert(pred == want, s"want $want got $pred") }
    // deterministic tie-break: all-zero scores fall to the first profile
    val none = Seq(("x", "qqq zzz")).toDF("expected", "text")
      .select(TextAnalysis.detectLang(col("text"))).head.getString(0)
    assert(none == "de")
  }

  test("BPE-ish regex token count: golden cases + whitespace split agreement") {
    import org.apache.spark.sql.functions._
    import graft.ops.TextAnalysis
    import spark.implicits._
    val got = Seq("don't stop!", "a1b2", "hello   world", "x  ,y").toDF("text")
      .select(TextAnalysis.bpeTokenCount(col("text")).as("n"))
      .collect().map(_.getInt(0)).toSeq
    // don|'t| stop|!  /  a|1|b|2  /  hello| world  /  x| ,|y
    assert(got == Seq(4, 4, 2, 3))
  }

  test("streaming: snapshot appends drive a live status-count stream") {
    import graft.crawl.{Crawl, CrawlConfig}
    import graft.site.PhashOutlinks
    val dir = SparkTestBase.tmpDir("stream-crawl")
    val conf = CrawlConfig(fetchIntervalDefault = 0, numPartitions = 2, fetcherServerDelayMs = 10)
    val imgs = ImageSynth.imagesDf(spark, 30, 3, partitions = 2)
    val crawl = new Crawl(spark, dir, imgs, conf, PhashOutlinks(30, 3, 2))
    crawl.run(1, Seq(ImageSynth.urlOf(0, 3), ImageSynth.urlOf(1, 3)), collectStats = false)

    val stream = graft.streaming.CrawlStream.frontierStream(spark, dir)
    val q = graft.streaming.CrawlStream.startMemorySink(
      graft.streaming.CrawlStream.statusCounts(stream), "crawl_status_live")
    try {
      q.processAllAvailable()
      val rows = spark.sql("select * from crawl_status_live").collect()
      assert(rows.nonEmpty)
      val total = rows.map(_.getLong(1)).sum
      assert(total > 0)
      // run another round; the stream picks up the new snapshots
      crawl.run(2, Seq(ImageSynth.urlOf(0, 3)), collectStats = false)
      q.processAllAvailable()
      val total2 = spark.sql("select * from crawl_status_live").collect().map(_.getLong(1)).sum
      assert(total2 > total, s"stream should see round-2 snapshots ($total2 vs $total)")
    } finally q.stop()

    // stateful per-host monitor: mapGroupsWithState accumulates across
    // micro-batches and tracks the consecutive-error streak
    val stream2 = graft.streaming.CrawlStream.frontierStream(spark, dir)
    val hq = graft.streaming.CrawlStream.startUpdateSink(
      graft.streaming.CrawlStream.hostHealthStream(spark, stream2), "host_health_live")
    try {
      hq.processAllAvailable()
      val health = spark.sql(
        "select host, max(fetched) from host_health_live group by host").collect()
      assert(health.length == 3, s"3 hosts expected, got ${health.length}")
      assert(health.map(_.getLong(1)).sum > 0, "fetched counts should accumulate")
    } finally hq.stop()

    // watermarked event-time windows close and emit in append mode
    val stream3 = graft.streaming.CrawlStream.frontierStream(spark, dir)
    val wdf = graft.streaming.CrawlStream.windowedFetchRate(stream3,
      window = "1 hour", watermark = "1 hour")
    val wq = wdf.writeStream.format("memory").queryName("fetch_rate_live")
      .outputMode("append").start()
    try {
      wq.processAllAvailable()
      // append-mode rows only materialize once the watermark passes the
      // window; the 2-round crawl spans 2 virtual days, so round-1 windows
      // are closed by round-2 event times
      val wrows = spark.sql("select * from fetch_rate_live").collect()
      assert(wrows.nonEmpty, "watermark should have closed round-1 windows")
    } finally wq.stop()

    // streamed rows carry the snapshot id of their sid= directory
    import org.apache.spark.sql.functions.col
    val lq = graft.streaming.CrawlStream.frontierStream(spark, dir)
      .groupBy(col("snapshot_id")).count()
      .writeStream.format("memory").queryName("stream_lineage").outputMode("complete").start()
    try {
      lq.processAllAvailable()
      val streamed = spark.sql("select * from stream_lineage").collect()
        .map(r => r.getLong(0) -> r.getLong(1)).toMap
      val table = new graft.table.SnapshotTable(dir)
      val committed = table.readAll(spark).groupBy(col("snapshot_id")).count().collect()
        .map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(streamed == committed)
    } finally lq.stop()
  }
}
