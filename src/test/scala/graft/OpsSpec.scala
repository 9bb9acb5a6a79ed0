package graft

import org.apache.spark.sql.functions._
import graft.core.Tables
import graft.ops._

class DedupSpec extends SparkSpec {
  import spark.implicits._

  test("exact dedup clusters duplicates") {
    val df = Seq((1L, "a b c"), (2L, "a b c"), (3L, "x y z"))
      .toDF("doc_id", "text")
    val r = Dedup.exactClusters(df, "text", "doc_id")
      .orderBy("canonical_id").collect()
    assert(r.length === 2)
    assert(r(0).getLong(1) === 2L && r(0).getLong(2) === 1L)
  }

  test("line dedup: globally first line survives, later copies cut, blanks preserved") {
    val df = Seq(
      (1L, "breaking news today.\n\nshare this article now\nunique one"),
      (2L, "share this article now\nunique two\nbreaking news today."),
      (3L, "  share this article now  \nunique three"), // trim-equal copy
      (4L, ""))
      .toDF("doc_id", "text")
    val r = graft.ops.Dedup.lineDedupReport(df, "text", "doc_id")
      .collect().map(x => x.getLong(0) -> x).toMap
    // doc 1 is first for both its nonblank lines -> nothing cut
    assert(r(1L).getAs[Long]("n_dup_lines") === 0L)
    assert(r(1L).getAs[String]("clean_text") ===
      "breaking news today.\n\nshare this article now\nunique one")
    // doc 2 loses both boilerplate copies, keeps its unique line
    assert(r(2L).getAs[Long]("n_lines") === 3L)
    assert(r(2L).getAs[Long]("n_dup_lines") === 2L)
    assert(r(2L).getAs[String]("clean_text") === "unique two")
    assert(r(2L).getAs[Long]("dup_line_ppm") === 666666L)
    // doc 3's padded copy hashes trim-equal but keeps ORIGINAL spelling
    assert(r(3L).getAs[Long]("n_dup_lines") === 1L)
    assert(r(3L).getAs[String]("clean_text") === "unique three")
    // empty doc: zero lines, zero ppm, empty rebuild
    assert(r(4L).getAs[Long]("n_lines") === 0L)
    assert(r(4L).getAs[Long]("dup_line_ppm") === 0L)
    assert(r(4L).getAs[String]("clean_text") === "")
  }

  test("realized weighted sample: unique docs always keep, clusters down-sample") {
    // a 10-copy cluster (weight 100000 ppm) plus two unique docs
    val df = ((1L to 10L).map(i => (i, "dup dup dup")) ++
      Seq((20L, "unique one"), (21L, "unique two"))).toDF("doc_id", "text")
    val kept = Dedup.duplicateWeights(df, "text", "doc_id")
      .withColumn("keep",
        (Mix.bucketPpm(col("id"), "wsamp") < col("weight_ppm")).cast("long"))
      .collect().map(r => r.getLong(0) -> r.getLong(4)).toMap
    assert(kept(20L) === 1L && kept(21L) === 1L) // weight_ppm = 1e6
    // each copy keeps with p = 0.1, deterministic under the salt —
    // this cluster's draw lands exactly on ids {1, 4, 5, 6, 9}
    val keptIds = (1L to 10L).filter(kept(_) === 1L)
    assert(keptIds === Seq(1L, 4L, 5L, 6L, 9L))
  }

  test("jaccard: identical docs score 1.0, disjoint docs absent") {
    val df = Seq(
      (1L, "a b c d e"), (2L, "a b c d e"), (3L, "p q r s t"))
      .toDF("doc_id", "text")
    val r = Dedup.jaccardPairs(df, "text", "doc_id").collect()
    assert(r.length === 1)
    assert(r(0).getLong(0) === 1L && r(0).getLong(1) === 2L)
    assert(r(0).getDouble(5) === 1.0)
  }

  test("minhash LSH finds identical docs as candidates") {
    val df = Seq(
      (1L, "a b c d e f g h"), (2L, "a b c d e f g h"), (3L, "p q r s t u v w"))
      .toDF("doc_id", "text")
    val sh = Dedup.wordShingles(df, "text", "doc_id")
    val cands = Dedup.minhashCandidates(
      Dedup.lshBands(Dedup.minhashSignatures(sh))).collect()
    assert(cands.length === 1)
    assert(cands(0).getLong(0) === 1L && cands(0).getLong(1) === 2L)
  }

  test("substring report: embedded copied span flags the copier, not the origin") {
    // doc 2 embeds doc 1's 8-token span inside otherwise-unique text;
    // doc-level exact dedup sees nothing, the span report must
    val span = "q w e r t y u i"
    val df = Seq(
      (1L, s"$span alpha beta gamma"),   // origin: canonical occurrences
      (2L, s"zeta eta $span theta"),     // copier: non-canonical span
      (3L, "one two three four five six seven eight nine"),
      (4L, "tiny"))                      // < k tokens: windowless, kept
      .toDF("doc_id", "text")
    val r = Dedup.substringDupReport(df, "text", "doc_id", k = 8, dupPpmAt = 200000L)
      .orderBy("id").collect()
    val byId = r.map(x => x.getLong(0) -> x).toMap
    // origin: 4 windows (11 tokens), 1 dup (the span), 0 non-canonical
    assert(byId(1L).getLong(1) === 4L && byId(1L).getLong(2) === 1L
      && byId(1L).getLong(3) === 0L && byId(1L).getLong(5) === 1L)
    // copier: its span window is the later occurrence -> non-canonical,
    // 1/4 windows = 250000 ppm >= threshold -> dropped
    assert(byId(2L).getLong(3) === 1L && byId(2L).getLong(4) === 250000L
      && byId(2L).getLong(5) === 0L)
    assert(byId(3L).getLong(2) === 0L && byId(3L).getLong(5) === 1L)
    assert(byId(4L).getLong(1) === 0L && byId(4L).getLong(5) === 1L)
  }

  test("substring scrub cuts the copied span from the copier only") {
    val span = "q w e r t y u i"
    val df = Seq(
      (1L, s"$span tail1 tail2"),
      (2L, s"head1 head2 $span tail3"),
      (3L, "a b"))
      .toDF("doc_id", "text")
    val r = Dedup.substringScrub(df, "text", "doc_id", k = 8)
      .orderBy("id").collect()
    // origin keeps everything
    assert(r(0).getLong(3) === 0L && r(0).getString(4) === s"$span tail1 tail2")
    // copier loses exactly the 8 span tokens, order of the rest intact
    assert(r(1).getLong(3) === 8L && r(1).getString(4) === "head1 head2 tail3")
    // short doc passes through verbatim
    assert(r(2).getLong(3) === 0L && r(2).getString(4) === "a b")
  }

  test("substring scrub keeps one copy of a thrice-repeated span and empties full copies") {
    val span = "s1 s2 s3 s4 s5 s6 s7 s8"
    val df = Seq((1L, span), (2L, span), (3L, span)).toDF("doc_id", "text")
    val r = Dedup.substringScrub(df, "text", "doc_id", k = 8)
      .orderBy("id").collect()
    assert(r(0).getString(4) === span)                       // canonical copy
    assert(r(1).getString(4) === "" && r(1).getLong(3) === 8L) // scrubbed away
    assert(r(2).getString(4) === "" && r(2).getLong(3) === 8L)
  }

  test("incremental dedup joins a new batch against a STORED band index") {
    // the standing corpus's bands persist as a plain parquet table;
    // the arriving batch computes only its own signatures and never
    // re-reads old text — the continuous-ingest admission shape
    val old = Seq(
      (10L, "a b c d e f g h"), (11L, "p q r s t u v w"))
      .toDF("doc_id", "text")
    val idxDir = java.nio.file.Files
      .createTempDirectory("graft_bandidx").toString
    Dedup.lshBands(Dedup.minhashSignatures(
        Dedup.wordShingles(old, "text", "doc_id")))
      .write.mode("overwrite").parquet(idxDir)

    val fresh = Seq(
      (20L, "a b c d e f g h"),  // copy of standing doc 10
      (21L, "1 2 3 4 5 6 7 8"))  // genuinely new
      .toDF("doc_id", "text")
    val newBands = Dedup.lshBands(Dedup.minhashSignatures(
      Dedup.wordShingles(fresh, "text", "doc_id")))
    val cands = Dedup.incrementalCandidates(
        newBands, spark.read.parquet(idxDir))
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(cands.toSeq === Seq((20L, 10L)))
  }

  test("admission loop: second batch admits/rejects against the index the first batch wrote") {
    // batch 1 founds the index (bands + shingle rows with stored n_g)
    def index(df: org.apache.spark.sql.DataFrame) = {
      val sh = Dedup.shingleRowsWithCounts(
        Dedup.wordShingles(df, "text", "doc_id"))
      (sh, Dedup.lshBands(Dedup.minhashSignatures(sh.select("id", "g"))))
    }
    val dir = java.nio.file.Files.createTempDirectory("graft_admidx").toString
    val b1 = Seq((10L, "a b c d e f g h"), (11L, "p q r s t u v w"))
      .toDF("doc_id", "text")
    val (sh1, bands1) = index(b1)
    sh1.write.mode("overwrite").parquet(s"$dir/shingles")
    bands1.write.mode("overwrite").parquet(s"$dir/bands")

    // batch 2: one duplicate of a standing doc, one genuinely new
    val b2 = Seq(
      (20L, "a b c d e f g h"),
      (21L, "j k l m n o p q")).toDF("doc_id", "text")
    val (sh2, bands2) = index(b2)
    val rep2 = Dedup.admissionReport(
        b2.select(col("doc_id").as("id")), sh2, bands2,
        spark.read.parquet(s"$dir/shingles"),
        spark.read.parquet(s"$dir/bands"), threshold = 0.5)
      .collect().map(r => r.getLong(0) ->
        (r.getLong(r.fieldIndex("admitted")),
         if (r.isNullAt(1)) -1L else r.getLong(1))).toMap
    assert(rep2(20L)._1 === 0L && rep2(20L)._2 === 10L) // rejected vs 10
    assert(rep2(21L)._1 === 1L)                          // admitted

    // append the ADMITTED docs' rows; a later copy of doc 21 must now
    // be rejected — the index stayed current through the loop
    val admitted = Seq(21L).toDF("id")
    sh2.join(admitted, Seq("id")).write.mode("append")
      .parquet(s"$dir/shingles")
    bands2.join(admitted, Seq("id")).write.mode("append")
      .parquet(s"$dir/bands")
    val b3 = Seq((30L, "j k l m n o p q")).toDF("doc_id", "text")
    val (sh3, bands3) = index(b3)
    val rep3 = Dedup.admissionReport(
        b3.select(col("doc_id").as("id")), sh3, bands3,
        spark.read.parquet(s"$dir/shingles"),
        spark.read.parquet(s"$dir/bands"), threshold = 0.5)
      .collect()
    assert(rep3.length === 1)
    assert(rep3(0).getLong(rep3(0).fieldIndex("admitted")) === 0L)
    assert(rep3(0).getLong(1) === 21L)
  }

  test("simhash: identical texts get identical hashes, hamming sane") {
    val df = Seq((1L, "a b c d"), (2L, "a b c d"), (3L, "w x y z"))
      .toDF("doc_id", "text")
    val r = Dedup.simhash(df, "text", "doc_id")
      .orderBy("id").collect().map(_.getLong(1))
    assert(r(0) === r(1))
    assert(r(0) !== r(2))
  }

  test("simhash banding recovers pairs the single high-bit family misses") {
    // plant a pair at Hamming 8 whose differing bits ALL sit inside
    // the high 16 bucket bits (44..59): different buckets, so the
    // single-family operator is blind to it by construction
    val diff = Seq(45, 46, 47, 48, 49, 50, 55, 58)
      .map(b => 1L << b).reduce(_ | _)
    val base = 0x0123456789ABCL // arbitrary 52-bit fingerprint
    val sh = Seq((1L, base), (2L, base ^ diff), (3L, ~base & ((1L << 60) - 1)))
      .toDF("id", "simhash")
    val single = Dedup.simhashPairs(sh, maxHamming = 8, bucketBits = 16)
    assert(single.count() === 0) // missed: differs inside the bucket
    val banded = Dedup.simhashPairsBanded(sh, maxHamming = 8).collect()
    assert(banded.length === 1)
    assert(banded(0).getLong(0) === 1L && banded(0).getLong(1) === 2L)
    assert(banded(0).getLong(2) === 8L)
  }

  test("over-cap shingle anti-joins carry no forced broadcast") {
    // the over-cap lists grow with the corpus, so only the planner's
    // size threshold may broadcast them; with the threshold off, a
    // broadcast anti-join can only come from a hint
    val key = "spark.sql.autoBroadcastJoinThreshold"
    val saved = spark.conf.getOption(key)
    spark.catalog.clearCache() // cached plans are planned only once
    spark.conf.set(key, "-1")
    try graft.core.CacheScope.withScope {
      val docs = Tables.documents(spark, sf)
      for ((name, df) <- Seq(
          "Dedup.cappedIndex" ->
            Dedup.cappedIndex(Dedup.wordShingles(docs, "text", "doc_id"), 2L),
          "q_dedup_admit" -> graft.queries.TrainingQueries.qDedupAdmit(spark, sf))) {
        df.collect()
        val plan = df.queryExecution.executedPlan.toString
        val forced = plan.split("\n")
          .filter(l => l.contains("BroadcastHashJoin") && l.contains("LeftAnti"))
        assert(forced.isEmpty, s"$name broadcasts an anti-join side:\n$plan")
        assert(plan.contains("LeftAnti"), s"$name lost its anti-join:\n$plan")
      }
    } finally {
      saved.fold(spark.conf.unset(key))(spark.conf.set(key, _))
      spark.catalog.clearCache()
    }
  }

  test("tuneBands: optimum beats neighboring splits on the S-curve loss") {
    val k = 64
    val t = 0.5
    def loss(b: Int, r: Int): Double = {
      def curve(s: Double) = 1.0 - math.pow(1.0 - math.pow(s, r), b)
      3.0 * (1.0 - curve(0.6)) + curve(0.4)
    }
    val (b, r) = graft.ops.Dedup.tuneBands(k, t)
    assert(b * r == k)
    (1 to k).filter(k % _ == 0).foreach { b2 =>
      assert(loss(b, r) <= loss(b2, k / b2) + 1e-12, s"split ($b2,${k / b2}) beats ($b,$r)")
    }
    // a high threshold wants wider bands (fewer, longer rows); a low
    // threshold wants narrower ones
    val (_, rHi) = graft.ops.Dedup.tuneBands(k, 0.9)
    val (_, rLo) = graft.ops.Dedup.tuneBands(k, 0.2)
    assert(rHi > r && rLo < r, s"monotonicity: rLo=$rLo r=$r rHi=$rHi")
  }
}

class SimilaritySpec extends SparkSpec {
  import spark.implicits._

  test("cosine of identical vectors is 1") {
    val df = Seq((1L, Array(1.0f, 2.0f, 3.0f)), (2L, Array(1.0f, 2.0f, 3.0f)))
      .toDF("vec_id", "embedding")
    val r = Similarity.nearestNeighbor(df).collect()
    assert(r.forall(row => math.abs(row.getDouble(2) - 1.0) < 1e-12))
  }

  test("brute-force topk is ordered and self-free") {
    val emb = Tables.embeddings(spark, sf)
    val r = Similarity.bruteForceTopK(emb, emb.filter($"vec_id" < 3), 5).collect()
    assert(r.length === 15)
    r.groupBy(_.getLong(0)).foreach { case (q, rows) =>
      val sims = rows.sortBy(_.getLong(1)).map(_.getDouble(3))
      assert(sims.sorted.reverse.toSeq === sims.toSeq, s"not descending for $q")
      assert(rows.forall(_.getLong(2) != q))
    }
  }

  test("bucketed near-dup finds exact duplicates (same bucket by construction)") {
    val emb = Tables.embeddings(spark, sf)
      .select("vec_id", "embedding").limit(100)
    // plant an exact duplicate of vector 0 under a fresh id
    val dup = emb.filter($"vec_id" === 0L)
      .select(lit(900000L).as("vec_id"), $"embedding")
    val rows = Similarity.lshNearestNeighbor(emb.unionByName(dup), nBits = 8)
      .filter($"vec_id".isin(0L, 900000L))
      .select("vec_id", "nn_id", "sim").collect()
    assert(rows.map(_.getLong(0)).toSet === Set(0L, 900000L))
    rows.foreach { row =>
      assert(Set(0L, 900000L).contains(row.getLong(1)), "dup pair must be mutual NN")
      assert(math.abs(row.getDouble(2) - 1.0) < 1e-12)
    }
  }

  test("lsh topk results appear in brute-force ranking with same sim") {
    val emb = Tables.embeddings(spark, sf)
    val brute = Similarity.bruteForceTopK(emb, emb.filter($"vec_id" < 10), 500)
      .select("q_id", "neighbor_id", "sim").as[(Long, Long, Double)]
      .collect().map(t => (t._1, t._2) -> t._3).toMap
    val lsh = Similarity.lshTopK(emb, 10L, 5, nBits = 6)
      .select("q_id", "neighbor_id", "sim").as[(Long, Long, Double)].collect()
    assert(lsh.nonEmpty)
    lsh.foreach { case (q, n, s) =>
      assert(brute.contains((q, n)) && brute((q, n)) === s)
    }
  }

  test("multi-probe LSH: radius 0 equals single-probe; radius 1 candidates are a superset and recall never drops") {
    import spark.implicits._
    val emb = Tables.embeddings(spark, sf)
    def pairs(df: org.apache.spark.sql.DataFrame): Set[(Long, Long)] =
      df.select("q_id", "neighbor_id").as[(Long, Long)].collect().toSet
    val single = pairs(Similarity.lshTopK(emb, 10L, 5, nBits = 6))
    val mp0 = pairs(Similarity.lshTopKMultiProbe(emb, 10L, 5, nBits = 6,
      probeHamming = 0))
    assert(mp0 === single) // identity mask only = the single-probe plan
    // true top-5 per query (brute force); recall = fraction recovered
    val truth = pairs(Similarity.bruteForceTopK(
      emb, emb.filter($"vec_id" < 10), 5))
    def recall(got: Set[(Long, Long)]): Double =
      (truth intersect got).size.toDouble / truth.size
    val mp1 = pairs(Similarity.lshTopKMultiProbe(emb, 10L, 5, nBits = 6,
      probeHamming = 1))
    val mp2 = pairs(Similarity.lshTopKMultiProbe(emb, 10L, 5, nBits = 6,
      probeHamming = 2))
    // the motivating ladder (deterministic: md5 hyperplanes, fixed
    // corpus — measures 0.06 -> 0.28 -> 0.58 here): each probe radius
    // strictly recovers neighbors the previous one lost across a
    // hyperplane
    assert(recall(mp1) > recall(single))
    assert(recall(mp2) > recall(mp1))
    assert(recall(mp1) >= 0.25 && recall(mp2) >= 0.5)
    // the other lever — independent tables at the same bit depth —
    // also strictly beats one table (deterministic plane blocks)
    val mt3 = pairs(Similarity.lshTopKMultiTable(emb, 10L, 5, nBits = 6,
      nTables = 3))
    assert(recall(mt3) > recall(single))
    // one table IS the single-probe plan (offset 0 planes)
    assert(pairs(Similarity.lshTopKMultiTable(emb, 10L, 5, nBits = 6,
      nTables = 1)) === single)
  }

  test("near-dup multiprobe: coverage grows, and every found neighbor is at least as similar") {
    import spark.implicits._
    val emb = Tables.embeddings(spark, sf)
    def nns(r: Int): Map[Long, Double] =
      Similarity.lshNearestNeighbor(emb, nBits = 8, probeHamming = r)
        .select("vec_id", "sim").as[(Long, Double)].collect().toMap
    val single = nns(0)
    val probed = nns(1)
    // radius 1 widens the candidate set: strictly more vectors find a
    // neighbor, and a vector's best-found sim can only improve
    assert(probed.size > single.size)
    single.foreach { case (id, s0) => assert(probed(id) >= s0) }
  }
}

class MultimodalSpec extends SparkSpec {
  test("decode plumbing is deterministic and schema-complete") {
    val docs = Tables.documents(spark, sf)
    val f1 = Multimodal.features(spark, docs).orderBy("doc_id").collect()
    val f2 = Multimodal.features(spark, docs).orderBy("doc_id").collect()
    assert(f1.toSeq === f2.toSeq)
    assert(f1.length === docs.count())
    assert(f1.forall(r => r.getInt(3) > 0 && r.getInt(4) > 0 && r.getInt(5) > 0))
    // the image modality is REAL-decoded: dims come from the PNG
    // bytes' IHDR, not the md5 stub (the stub's range is 1..1920)
    f1.filter(_.getString(1) == "image").foreach { r =>
      val k = (r.getLong(0) % graft.sources.MediaCorpus.NumPixelPng).toInt
      val (w, h) = graft.sources.MediaCorpus.pixelDims(k)
      assert(r.getInt(3) === w && r.getInt(4) === h, s"doc ${r.getLong(0)}")
      assert(r.getLong(2) ===
        graft.sources.MediaCorpus.pngPixelBytes(k).length.toLong)
    }
    // the audio modality is REAL-decoded too: (width, height,
    // n_frames) = (sample rate, channels, PCM frames) from the WAV
    f1.filter(_.getString(1) == "audio").foreach { r =>
      val k = (r.getLong(0) % graft.sources.MediaCorpus.NumWav).toInt
      assert(r.getInt(3) === graft.sources.MediaCorpus.wavRate(k))
      assert(r.getInt(4) === graft.sources.MediaCorpus.wavChannels(k))
      assert(r.getInt(5) === graft.sources.MediaCorpus.wavSamples(k))
    }
    // and the video modality: dims + total frames from the AVI headers
    f1.filter(_.getString(1) == "video").foreach { r =>
      val k = (r.getLong(0) % graft.sources.MediaCorpus.NumAvi).toInt
      val (w, h) = graft.sources.MediaCorpus.aviDims(k)
      assert(r.getInt(3) === w && r.getInt(4) === h)
      assert(r.getInt(5) === graft.sources.MediaCorpus.aviFrameCount(k))
    }
  }

  test("unrecognized bytes fall back to the documented md5 stub") {
    import spark.implicits._
    val blob = "no container recognizes this".getBytes
    val ds = Seq(Multimodal.MediaRecord(9L, blob, "audio")).toDS()
    val f = Multimodal.decodeBatch(ds).collect().head
    // stub ranges: width 1..1920, height 1..1080; deterministic
    assert(f.width >= 1 && f.width <= 1920)
    assert(f.height >= 1 && f.height <= 1080)
    assert(f.n_frames === 1)
    assert(f.byte_len === blob.length.toLong)
    val again = Multimodal.decodeBatch(ds).collect().head
    assert(f === again)
  }
  test("frame sampling explodes only videos, carrying feature columns") {
    val f = Multimodal.features(spark, Tables.documents(spark, sf))
    val frames = Multimodal.frameSample(f, everyN = 24)
    assert(frames.count() > 0)
    assert(frames.filter(col("media_type") =!= "video").count() === 0)
    // every sampled index is a multiple of everyN inside [0, n_frames)
    assert(frames.filter(col("frame_idx") % 24 =!= 0
      || col("frame_idx") < 0 || col("frame_idx") >= col("n_frames"))
      .count() === 0)
  }

  test("resize plan: aspect-preserving, never upscales, binding edge exact") {
    import spark.implicits._
    val f = Seq(
      (1L, "image", 10L, 100, 50, 1),   // fits -> unchanged
      (2L, "image", 10L, 1920, 1080, 1), // width-binding
      (3L, "image", 10L, 300, 900, 1),   // height-binding
      (4L, "video", 10L, 336, 336, 48))  // exact fit
      .toDF("doc_id", "media_type", "byte_len", "width", "height", "n_frames")
    val r = Multimodal.resizePlan(f, maxW = 336, maxH = 336)
      .collect().map(x => x.getLong(0) ->
        (x.getAs[Number]("out_w").longValue(),
          x.getAs[Number]("out_h").longValue())).toMap
    assert(r(1L) === ((100L, 50L)))
    assert(r(2L) === ((336L, 1080L * 336 / 1920))) // 189
    assert(r(3L) === ((300L * 336 / 900, 336L)))   // 112
    assert(r(4L) === ((336L, 336L)))
  }
}

class TextAnalysisSpec extends SparkSpec {
  import spark.implicits._
  test("langid picks the language with most stopword hits") {
    val df = Seq(
      (1L, "xx", "the cat and the dog of a to"),
      (2L, "xx", "der hund und die katze ist"),
      (3L, "xx", "el perro la casa de los que"))
      .toDF("doc_id", "lang", "text")
    val toks = TextAnalysis.tokens($"text")
    val scores = TextAnalysis.langStopwords.map { case (l, ws) =>
      TextAnalysis.stopwordHits(toks, ws).as(s"s_$l") }
    val r = df.select($"doc_id" +: scores: _*)
      .withColumn("pred", TextAnalysis.langIdFromScores(
        TextAnalysis.langStopwords.map(p => col(s"s_${p._1}"))))
      .orderBy("doc_id").select("pred").as[String].collect()
    assert(r.toSeq === Seq("en", "de", "es"))
  }
}

class ImportanceSpec extends SparkSpec {
  import spark.implicits._

  test("target-like docs score above corpus-typical docs and the keep flag splits there") {
    // target distribution is all "rare"; corpus is mostly "common".
    // The doc made of target-favored tokens must outscore the
    // corpus-typical one under the ppm-difference weights.
    val corpus = Seq(
      (1L, "rare rare rare rare"),
      (2L, "common common common common"),
      (3L, "common rare common rare"))
      .toDF("doc_id", "text")
    val target = Seq((100L, "rare rare rare rare")).toDF("doc_id", "text")
    val r = Importance.importanceReport(corpus, target,
        "text", "doc_id", nBuckets = 64, keepAtPml = 0L)
      .orderBy("id").collect()
    val score = r.map(x => x.getLong(0) -> x.getLong(2)).toMap
    val keep = r.map(x => x.getLong(0) -> x.getLong(3)).toMap
    assert(score(1L) > score(3L) && score(3L) > score(2L))
    assert(keep(1L) === 1L && keep(2L) === 0L)
    // n_toks counts every token occurrence, not distinct tokens
    assert(r.map(_.getLong(1)).toSeq === Seq(4L, 4L, 4L))
  }

  test("keep cross-multiplication is length-invariant: repeating a doc doesn't change its verdict") {
    val corpus = Seq(
      (1L, "good good bad"),
      (2L, "good good bad good good bad good good bad"))
      .toDF("doc_id", "text")
    val target = Seq((100L, "good")).toDF("doc_id", "text")
    val r = Importance.importanceReport(corpus, target,
        "text", "doc_id", nBuckets = 64, keepAtPml = 100L)
      .orderBy("id").collect()
    // same token mixture at 1x and 3x length -> same keep decision
    assert(r(0).getLong(3) === r(1).getLong(3))
  }
}

class CurationSpec extends SparkSpec {
  import spark.implicits._

  test("decontamination flags a planted eval copy, not a disjoint doc") {
    val corpus = Seq(
      (1L, "alpha beta gamma delta epsilon zeta"), // exact eval copy
      (2L, "alpha beta gamma one two three four"), // partial overlap
      (3L, "completely different words entirely here now"))
      .toDF("doc_id", "text")
    val evalSet = Seq((100L, "alpha beta gamma delta epsilon zeta"))
      .toDF("doc_id", "text")
    val r = Decontaminate.overlapReport(corpus, evalSet,
        "text", "doc_id", "doc_id", n = 3, flagAt = 0.5)
      .orderBy("id")
      .select("id", "eval_id", "ratio", "contaminated")
      .collect()
    assert(r(0).getLong(3) === 1L && r(0).getDouble(2) === 1.0) // full copy
    assert(r(1).getLong(3) === 0L && r(1).getDouble(2) === 0.25) // 1 of 4 eval 3-grams
    assert(r(2).getLong(3) === 0L && r(2).isNullAt(1)) // no candidate at all
  }

  test("bloom-pruned decontamination == exact flagged set (sf0.001)") {
    val docs = graft.core.Tables.documents(spark, sf)
    val corpus = docs.filter(pmod(col("doc_id"), lit(53)) =!= 0)
    val evalSet = docs.filter(pmod(col("doc_id"), lit(53)) === 0)
    val exact = Decontaminate.overlapReport(corpus, evalSet,
        "text", "doc_id", "doc_id", n = 3, flagAt = 0.2)
      .filter(col("contaminated") === 1L)
      .select("id", "eval_id", "shared", "eval_ng", "ratio")
    val bloom = Decontaminate.flaggedReportBloom(corpus, evalSet,
      "text", "doc_id", "doc_id", n = 3, flagAt = 0.2)
    assert(exact.count() > 0) // the fixture actually exercises the path
    assert(bloom.exceptAll(exact).isEmpty && exact.exceptAll(bloom).isEmpty)
  }

  test("bloom shingle probe byte-slices agree with concat_ws shingles") {
    // doubled/leading spaces produce empty tokens; the probe's byte
    // ranges must hash exactly what concat_ws(" ", slice(w,i,n)) emits
    val evalSet = Seq((100L, "alpha  beta gamma")).toDF("doc_id", "text")
    val corpus = Seq(
      (1L, "x alpha  beta gamma y"),  // contains the doubled-space 3-gram
      (2L, "x alpha beta gamma y"))   // single space: different shingle
      .toDF("doc_id", "text")
    val r = Decontaminate.flaggedReportBloom(corpus, evalSet,
        "text", "doc_id", "doc_id", n = 3, flagAt = 0.2)
      .select("id").collect().map(_.getLong(0)).sorted
    assert(r.sameElements(Array(1L)))
  }

  test("bloom decontamination with an empty eval set flags nothing") {
    val corpus = Seq((1L, "alpha beta gamma")).toDF("doc_id", "text")
    val evalSet = corpus.filter(lit(false))
    val r = Decontaminate.flaggedReportBloom(corpus, evalSet,
      "text", "doc_id", "doc_id", n = 3, flagAt = 0.2)
    assert(r.count() === 0)
    assert(r.columns.toSeq ===
      Seq("id", "eval_id", "shared", "eval_ng", "ratio"))
  }

  test("BPE-ish token count segments letter/digit/punct runs") {
    import graft.ops.TextAnalysis
    val df = Seq(
      (1L, "hello world"),        // 2 segments
      (2L, "price: $12.50 now!"), // price|:| $|12|.|50| now|! = 8
      (3L, "abc123"))             // abc|123 = 2
      .toDF("doc_id", "text")
    val r = df.select(col("doc_id"),
        TextAnalysis.bpeishTokenCount(col("text")).as("n"))
      .orderBy("doc_id").collect().map(_.getLong(1))
    assert(r.toSeq === Seq(2L, 8L, 2L))
  }

  test("quality expectations count violations per rule kind") {
    import graft.ops.Quality
    import graft.ops.Quality.{Expect, InParent, Unique}
    val df = Seq(
      (1L, 10L, "a"), (2L, -5L, "a"), (3L, 7L, ""), (3L, 8L, "b"))
      .toDF("id", "v", "tag")
    val parent = Seq(Tuple1(1L), Tuple1(2L)).toDF("pid")
    val r = Quality.check(df, Seq(
        Expect("v_non_negative", col("v") >= 0),
        Expect("tag_nonempty", length(col("tag")) > 0),
        Unique("id_unique", Seq("id")),
        InParent("id_in_parent", "id", parent, "pid")))
      .collect().map(x => x.getString(0) -> (x.getLong(1), x.getBoolean(3)))
      .toMap
    assert(r("v_non_negative") === (1L, false))
    assert(r("tag_nonempty") === (1L, false))
    assert(r("id_unique") === (1L, false))   // id 3 twice -> 1 extra row
    assert(r("id_in_parent") === (2L, false)) // both id-3 rows orphaned
  }

  test("decontamination with an empty eval set marks nothing, drops nothing") {
    val corpus = Seq((1L, "alpha beta gamma delta")).toDF("doc_id", "text")
    val evalSet = corpus.filter(col("doc_id") < 0)
    val r = Decontaminate.overlapReport(corpus, evalSet,
      "text", "doc_id", "doc_id").collect()
    assert(r.length === 1)
    assert(r(0).getLong(2) === 0L && r(0).getLong(5) === 0L) // shared, flag
  }

  test("semantic decontamination flags a planted eval-identical vector") {
    val corpus = Seq(
      (1L, Array(1.0f, 0.0f, 0.0f)),   // identical direction to eval 100
      (2L, Array(0.0f, 1.0f, 0.0f)))   // orthogonal
      .toDF("vec_id", "embedding")
    val evalSet = Seq((100L, Array(2.0f, 0.0f, 0.0f)))
      .toDF("vec_id", "embedding")
    val r = Decontaminate.semanticOverlap(corpus, evalSet, flagAt = 0.9)
      .orderBy("vec_id").collect()
    assert(r(0).getLong(3) === 1L && math.abs(r(0).getDouble(2) - 1.0) < 1e-12)
    assert(r(1).getLong(3) === 0L && math.abs(r(1).getDouble(2)) < 1e-12)
  }

  test("scrub redacts planted PII and counts it; clean text normalizes") {
    val df = Seq(
      (1L, "  Contact   Bob@Example.COM or 10.0.0.1 NOW  "),
      (2L, "no pii here at all"))
      .toDF("doc_id", "text")
    val r = df.select(
        col("doc_id"),
        Scrub.redact(Scrub.cleanText(col("text"))).as("clean"),
        Scrub.emailCount(col("text")).as("ne"),
        Scrub.ipv4Count(col("text")).as("ni"))
      .orderBy("doc_id").collect()
    assert(r(0).getString(1) === "contact <EMAIL> or <IP> now")
    assert(r(0).getLong(2) === 1L && r(0).getLong(3) === 1L)
    assert(r(1).getString(1) === "no pii here at all")
    assert(r(1).getLong(2) === 0L && r(1).getLong(3) === 0L)
  }

  test("repetition metrics: dup-word ratio and top-bigram share") {
    val df = Seq(
      (1L, "spam spam spam spam"),   // 3 bigrams, all "spam spam"
      (2L, "all words here differ"), // no dup words, all bigrams unique
      (3L, "solo"))                  // < 2 tokens: drops out
      .toDF("doc_id", "text")
    val r = TextAnalysis.repetitionReport(df, "text", "doc_id", flagAt = 0.5)
      .orderBy("id").collect()
    assert(r.length === 2)
    assert(r(0).getDouble(2) === 0.75) // 4 tokens, 1 distinct
    assert(r(0).getString(3) === "spam spam" && r(0).getDouble(5) === 1.0)
    assert(r(0).getLong(6) === 1L)
    assert(r(1).getDouble(2) === 0.0 && r(1).getDouble(5) === (1.0 / 3))
    assert(r(1).getLong(6) === 0L)
  }

  test("packing: exclusive-prefix bins, one-doc overflow bound, md5-deterministic") {
    val docs = Tables.documents(spark, sf)
    val per = Pack.assignPacks(docs, "text", "doc_id", budget = 512L, nShards = 8)
      .collect()
    // every doc assigned exactly once
    assert(per.length === docs.count())
    // within a (shard, pack), tokens-before-last-doc stay under budget:
    // a pack only overflows by its final doc's tail
    val byPack = per.groupBy(r => (r.getLong(2), r.getLong(3)))
    byPack.foreach { case (_, rows) =>
      val toks = rows.map(_.getLong(1))
      assert(toks.sum - toks.max < 512L)
    }
    // deterministic under different input partitioning
    val again = Pack.assignPacks(docs.repartition(13), "text", "doc_id",
        budget = 512L, nShards = 8)
      .collect().map(r => (r.getLong(0), r.getLong(3))).toSet
    assert(again === per.map(r => (r.getLong(0), r.getLong(3))).toSet)
  }

  test("no-span packing: packs never exceed budget, docs never split, greedy parity") {
    import spark.implicits._
    val docs = ((1L to 30L).map(i => (i, ("w " * ((i * 17 % 97).toInt + 1)).trim)) :+
      (99L, ("w " * 700).trim)) // oversized: alone in its own pack
      .toDF("doc_id", "text")
    val per = Pack.assignPacksNoSpan(
        docs.select(col("doc_id").as("id"),
          Pack.whitespaceTokens(col("text")).as("toks")),
        "id", col("toks"), budget = 100L, nShards = 4)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(per.length === 31)
    // no multi-doc pack over budget; the oversized doc sits alone
    per.groupBy(r => (r._3, r._4)).foreach { case (_, rows) =>
      if (rows.length > 1) assert(rows.map(_._2).sum <= 100L)
      else assert(rows.head._2 <= 100L || rows.head._1 === 99L)
    }
    // greedy parity: replay first-fit over the md5 order driver-side
    val byShard = per.groupBy(_._3)
    byShard.foreach { case (_, rows) =>
      val ordered = rows.sortBy(r =>
        (graft.functions.HashParity.md5Hex(r._1.toString), r._1))
      var pack = 0L; var filled = 0L; var first = true
      ordered.foreach { case (_, t, _, p) =>
        if (first) { filled = t; first = false }
        else if (filled + t <= 100L) filled += t
        else { pack += 1L; filled = t }
        assert(p === pack)
      }
    }
    // partitioning invariance
    val again = Pack.assignPacksNoSpan(
        docs.repartition(7).select(col("doc_id").as("id"),
          Pack.whitespaceTokens(col("text")).as("toks")),
        "id", col("toks"), budget = 100L, nShards = 4)
      .collect().map(r => (r.getLong(0), r.getLong(3))).toSet
    assert(again === per.map(r => (r._1, r._4)).toSet)
  }
}
