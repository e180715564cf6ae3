package graft

import org.apache.spark.sql.functions._

import graft.ext._

/** Units for the LLM-data extension operators (SURVEY §2.8 E1–E5). */
class ExtSpec extends SparkSpec {
  import spark.implicits._

  // ---- E1 ---------------------------------------------------------------
  test("exactDeterministic keeps the minimum-order row and reports group size") {
    val df = Seq((3, "k1"), (1, "k1"), (2, "k1"), (9, "k2"))
      .toDF("id", "key")
    val out = Dedup.exactDeterministic(df, Seq("key"), "id")
      .select("key", "id", "group_size").as[(String, Int, Long)].collect().toSet
    assert(out == Set(("k1", 1, 3L), ("k2", 9, 1L)))
  }

  test("duplicatedSpans flags cross-doc copies at any offset and self-repeats") {
    val docs = Seq(
      (1L, "a b c d e f g h"),              // 3 windows; [a..f] copied into doc 2
      (2L, "x x a b c d e f zz"),           // copy lands at offset 3 (unaligned)
      (3L, "p q r s t u p q r s t u"),      // self-repeat: [p..u] occurs twice
      (4L, "too short")                     // < 6 tokens -> no windows, no row
    ).toDF("id", "body")
    val got = Dedup.duplicatedSpans(docs, "id", "body", 6)
      .select("id", "n_windows", "n_dup").as[(Long, Long, Long)].collect()
      .map { case (id, w, d) => id -> ((w, d)) }.toMap
    assert(got.keySet == Set(1L, 2L, 3L))
    assert(got(1L) == ((3L, 1L)))
    assert(got(2L) == ((4L, 1L)))
    // both occurrences of the repeated window count as duplicated text
    assert(got(3L) == ((7L, 2L)))
  }

  // ---- E5n -----------------------------------------------------------------
  test("bigramPredictability matches the hand-derived smoothed bigram LM") {
    // corpus = one doc "a b a b a": bigrams (a,b)x2, (b,a)x2;
    // c(a,b)=c(b,a)=2, c(a,.)=c(b,.)=2, V={a,b}=2
    // p = (2+1)/(2+2) = 0.75 for every position -> mean_p = 0.75, n=4
    val solo = Seq((1L, "a b a b a")).toDF("id", "body")
    val got = LanguageModel.bigramPredictability(solo, "id", "body")
      .as[(Long, Long, Double)].collect()
    assert(got.toSeq == Seq((1L, 4L, 0.75)))
    // docs of < 2 tokens produce no row; repetitive text outscores
    // unique text under the same corpus model
    val mixed = Seq(
      (1L, "x y x y x y x y"),
      (2L, "q w e r t z u i"),
      (3L, "single")).toDF("id", "body")
    val byId = LanguageModel.bigramPredictability(mixed, "id", "body")
      .as[(Long, Long, Double)].collect().map(r => r._1 -> r._3).toMap
    assert(byId.keySet == Set(1L, 2L))
    assert(byId(1L) > byId(2L))
  }

  // ---- E5o ---------------------------------------------------------------
  test("centroidClassify separates fluent long docs from short gibberish") {
    // seed rule: f_stop*0.5 + f_len*0.5 >= 0.5.
    // doc 1: 10 tokens, all stopwords -> f_stop=1.0, f_len=0.1 -> seed hi
    // doc 2: "zz qq" -> f_stop=0, f_len=0.02 -> seed lo
    // doc 3: "the of xx yy" -> f_stop=0.5, f_len=0.04 -> 0.27 -> seed lo
    // centroids: hi=(1.0, 0.1, ttr 0.6), lo=mean of docs 2,3;
    // doc 3 sits between but must land on SOME deterministic side —
    // the law under test: every doc gets a pred, and the extreme
    // docs (1, 2) are classified to their own seed class.
    val docs = Seq(
      (1L, "the a of and is to the a of and"),
      (2L, "zz qq"),
      (3L, "the of xx yy")).toDF("doc_id", "text")
    val got = QualityModel.centroidClassify(docs, "doc_id", "text", TextOps.enMarkers)
      .as[(Long, String, String)].collect().map(r => r._1 -> ((r._2, r._3))).toMap
    assert(got(1L) == (("hi", "hi")))
    assert(got(2L) == (("lo", "lo")))
    assert(got(3L)._1 == "lo")
    assert(got.size == 3)
  }

  test("maximalDupSpans merges consecutive duplicated windows into maximal spans") {
    import graft.ext.Dedup
    // k=3. Docs 1 and 2 share the 5-token run "a b c d e" (at offsets
    // 1 and 3 resp.) -> 3 consecutive dup windows -> one span of
    // 3 + 3 - 1 = 5 tokens in each doc. Doc 3 shares nothing.
    val docs = Seq(
      (1L, "a b c d e x y"),
      (2L, "p q a b c d e"),
      (3L, "m n o r s t u")).toDF("doc_id", "text")
    val got = Dedup.maximalDupSpans(docs, "doc_id", "text", 3)
      .as[(Long, Long, Long)].collect().toSet
    assert(got == Set((1L, 1L, 5L), (2L, 3L, 5L)), got.toString)
    // a doc duplicated VERBATIM is one full-length span in both copies
    val twice = Seq((1L, "a b c d"), (2L, "a b c d")).toDF("doc_id", "text")
    val got2 = Dedup.maximalDupSpans(twice, "doc_id", "text", 3)
      .as[(Long, Long, Long)].collect().toSet
    assert(got2 == Set((1L, 1L, 4L), (2L, 1L, 4L)), got2.toString)
  }

  test("band-index laws: saved probe equals in-query pairs; append equals full rebuild") {
    import graft.ext.MinHash
    val docs = Tables.documents(spark, "/root/testdata/sf0.001")
    // probe(write(all)) ≡ candidatePairs(all)
    val ix = graft.ops.Sink.scratchDir("ext_bands")
    MinHash.writeBands(docs, "doc_id", "text", ix)
    val probed = MinHash.probeBands(spark, ix)
      .as[(Long, Long, Double)].collect().toSet
    val inQuery = MinHash.candidatePairs(docs, "doc_id", "text")
      .as[(Long, Long, Double)].collect().toSet
    assert(probed == inQuery)
    assert(probed.nonEmpty)
    // write(base) + append(delta) ≡ write(base ∪ delta): signatures
    // are per-doc independent, so the band tables hold the same rows
    val incIx = graft.ops.Sink.scratchDir("ext_bands_inc")
    MinHash.writeBands(docs.filter(col("doc_id") % 10 =!= 0), "doc_id", "text", incIx)
    MinHash.appendBands(docs.filter(col("doc_id") % 10 === 0), "doc_id", "text", incIx)
    val viaAppend = spark.read.parquet(s"$incIx/bands")
      .select(col("doc_id"), col("bidx"), col("bkey"))
      .as[(Long, Int, String)].collect().toSet
    val viaFull = spark.read.parquet(s"$ix/bands")
      .select(col("doc_id"), col("bidx"), col("bkey"))
      .as[(Long, Int, String)].collect().toSet
    assert(viaAppend == viaFull)
    // and the incremental probe equals the in-query incremental operator
    val probedInc = MinHash.probeBandsIncremental(
      spark, incIx, col("doc_id") % 10 === 0)
      .as[(Long, Long, Double)].collect().toSet
    val inQueryInc = MinHash.candidatePairsIncremental(
      docs, col("doc_id") % 10 === 0, "doc_id", "text")
      .as[(Long, Long, Double)].collect().toSet
    assert(probedInc == inQueryInc)
  }

  test("kNN-graph artifact laws: probe ≡ in-query graph; append ≡ rebuild; compaction probe-identical") {
    import graft.ext.Similarity
    val emb = Tables.embeddings(spark, "/root/testdata/sf0.001")
    // probe(write(all)) ≡ mutualKnnGraph(all)
    val ix = graft.ops.Sink.scratchDir("ext_knng")
    Similarity.writeKnnGraph(emb, 6, 3, ix)
    val probed = Similarity.probeKnnGraph(spark, ix)
      .as[(Long, Long, Double)].collect().toSet
    val inQuery = Similarity.mutualKnnGraph(emb, 6, 3)
      .as[(Long, Long, Double)].collect().toSet
    assert(probed == inQuery)
    assert(probed.nonEmpty)
    // the probe plan touches ONLY the artifact — no embedding-side
    // recompute (no embeddings scan, no dot-product expression)
    val plan = Similarity.probeKnnGraph(spark, ix)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("embeddings") && !plan.toLowerCase.contains("dot"), plan)
    // write(base) + append(delta) ≡ write(base ∪ delta): exact by
    // top-k mergeability — the saved lists and the edges both match
    val incIx = graft.ops.Sink.scratchDir("ext_knng_inc")
    Similarity.writeKnnGraph(emb.filter(col("vec_id") % 11 =!= 5), 6, 3, incIx)
    Similarity.appendKnnGraph(emb.filter(col("vec_id") % 11 === 5), 6, 3, incIx)
    val viaAppend = Similarity.probeKnnGraph(spark, incIx)
      .as[(Long, Long, Double)].collect().toSet
    assert(viaAppend == probed)
    val listsAppend = Similarity.probeKnnLists(spark, incIx)
      .select(col("query_id"), col("vec_id"), col("cos_sim"), col("rk"))
      .as[(Long, Long, Double, Long)].collect().toSet
    val listsFull = Similarity.probeKnnLists(spark, ix)
      .select(col("query_id"), col("vec_id"), col("cos_sim"), col("rk"))
      .as[(Long, Long, Double, Long)].collect().toSet
    assert(listsAppend == listsFull)
    // compaction: probe bit-identical, edge files at the target
    val filesBefore = parquetFiles(s"$incIx/edges")
    Similarity.compactKnnGraph(spark, incIx, targetFiles = 2)
    val afterCompact = Similarity.probeKnnGraph(spark, incIx)
      .as[(Long, Long, Double)].collect().toSet
    assert(afterCompact == viaAppend)
    assert(parquetFiles(s"$incIx/edges") <= math.max(filesBefore, 2))
  }

  test("BM25 index laws: probe ≡ in-query scoring; append ≡ rebuild; probe reads no text") {
    import graft.ext.Bm25Index
    val dir = "/root/testdata/sf0.001"
    val docs = Tables.documents(spark, dir)
    val ix = graft.ops.Sink.scratchDir("ext_bm25")
    Bm25Index.write(docs, "doc_id", "text", ix)
    val probed = Bm25Index.probe(spark, ix, graft.ext.TextOps.enMarkers, 5, 20)
      .as[(Long, Long, Double, Long)].collect().toSet
    val inQuery = ExtQueries.e5Bm25(spark, dir)
      .as[(Long, Long, Double, Long)].collect().toSet
    assert(probed == inQuery && probed.nonEmpty)
    // the probe plan touches ONLY the index tables — no document
    // scan, no tokenize/explode of text
    val plan = Bm25Index.probe(spark, ix, graft.ext.TextOps.enMarkers, 5, 20)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("documents") && !plan.toLowerCase.contains("explode"),
      plan)
    // write(base) + append(delta) ≡ write(base ∪ delta): postings and
    // doc lengths are unions of per-doc rows, stats recomputed at
    // probe — so the appended index probes bit-identically
    val incIx = graft.ops.Sink.scratchDir("ext_bm25_inc")
    Bm25Index.write(docs.filter(col("doc_id") % 5 =!= 0), "doc_id", "text", incIx)
    Bm25Index.append(docs.filter(col("doc_id") % 5 === 0), "doc_id", "text", incIx)
    val viaAppend = Bm25Index.probe(spark, incIx, graft.ext.TextOps.enMarkers, 5, 20)
      .as[(Long, Long, Double, Long)].collect().toSet
    assert(viaAppend == probed)
    def postingRows(p: String): Set[(Long, String, Long)] = spark.read.parquet(p)
      .select("doc_id", "word", "tf").as[(Long, String, Long)].collect().toSet
    val pFull = postingRows(s"$ix/postings")
    assert(postingRows(s"$incIx/postings") == pFull)
    // postings lay out in hash-of-word directory partitions, and the
    // probe's scoring scan carries partition filters on wb — the
    // pruning the layout exists for
    assert(new java.io.File(s"$incIx/postings").listFiles()
      .exists(_.getName.startsWith("wb=")))
    val scorePlan = Bm25Index.probe(spark, incIx, graft.ext.TextOps.enMarkers, 5, 20)
      .queryExecution.executedPlan.toString
    assert(scorePlan.contains("wb") && scorePlan.contains("PartitionFilters"),
      scorePlan)
    // compaction (rewrite-then-swap): probe bit-identical, postings
    // row set unchanged, file count at/below the appended layout's
    def parquetFileCount(p: String): Int = {
      def walk(f: java.io.File): Int =
        if (f.isDirectory) f.listFiles().map(walk).sum
        else if (f.getName.endsWith(".parquet")) 1 else 0
      walk(new java.io.File(p))
    }
    val filesBefore = parquetFileCount(s"$incIx/postings")
    Bm25Index.compact(spark, incIx, targetFiles = 2)
    val afterCompact = Bm25Index.probe(spark, incIx, graft.ext.TextOps.enMarkers, 5, 20)
      .as[(Long, Long, Double, Long)].collect().toSet
    assert(afterCompact == probed)
    assert(postingRows(s"$incIx/postings") == pFull)
    assert(parquetFileCount(s"$incIx/postings") <= filesBefore)
    assert(parquetFileCount(s"$incIx/doclen") <= 2)
  }

  test("AnnIndex incremental law: append(delta) equals full re-assignment of base ∪ delta") {
    import graft.ext.{AnnIndex, Similarity}
    val emb = Tables.embeddings(spark, "/root/testdata/sf0.001")
    val base = emb.filter(col("vec_id") % 7 =!= 3)
    val delta = emb.filter(col("vec_id") % 7 === 3)
    val ix = graft.ops.Sink.scratchDir("ext_ivf_inc")
    AnnIndex.writeIvf(base, 8, 2, ix)
    AnnIndex.appendIvf(delta, ix)
    val viaIndex = spark.read.parquet(s"$ix/cells")
      .select(col("vec_id"), col("cid").cast("long"))
      .as[(Long, Long)].collect().toSet
    val rebuilt = Similarity.assignToCentroid(
      emb, spark.read.parquet(s"$ix/centroids")
        .select(col("cid").as("vec_id"), col("embedding")))
      .select(col("vec_id"), col("cid"))
      .as[(Long, Long)].collect().toSet
    assert(viaIndex == rebuilt)
    assert(viaIndex.map(_._1).size == emb.count())
  }

  private def parquetFiles(p: String): Int = {
    def walk(f: java.io.File): Seq[java.io.File] = {
      val c = Option(f.listFiles).map(_.toSeq).getOrElse(Nil)
      c.filter(_.isFile) ++ c.filter(_.isDirectory).flatMap(walk)
    }
    walk(new java.io.File(p)).count(_.getName.endsWith(".parquet"))
  }

  test("AnnIndex compaction law: probe results unchanged, file count drops") {
    import graft.ext.AnnIndex
    val emb = Tables.embeddings(spark, "/root/testdata/sf0.001")
    val ix = graft.ops.Sink.scratchDir("ext_ivf_comp")
    AnnIndex.writeIvf(emb.filter(col("vec_id") % 7 =!= 3), 8, 2, ix)
    // several small appends — each adds a file per touched cell
    (0 until 3).foreach { r =>
      AnnIndex.appendIvf(emb.filter(col("vec_id") % 7 === 3 && col("vec_id") % 3 === r), ix)
    }
    val before = AnnIndex.probeIvf(emb.filter(col("vec_id") < 8), ix, 3)
      .as[(Long, Long, Double, Long)].collect().toSet
    val filesBefore = parquetFiles(s"$ix/cells")
    AnnIndex.compactIvf(spark, ix)
    val after = AnnIndex.probeIvf(emb.filter(col("vec_id") < 8), ix, 3)
      .as[(Long, Long, Double, Long)].collect().toSet
    assert(after == before)
    assert(before.nonEmpty)
    val filesAfter = parquetFiles(s"$ix/cells")
    assert(filesAfter < filesBefore, s"$filesAfter vs $filesBefore")

    // flat codes table (SQ8): same law through compactCodes
    val sq8Ix = graft.ops.Sink.scratchDir("ext_sq8_comp")
    AnnIndex.writeSq8(emb.filter(col("vec_id") % 7 =!= 3), sq8Ix)
    AnnIndex.appendSq8(emb.filter(col("vec_id") % 7 === 3), sq8Ix)
    val b2 = AnnIndex.probeSq8(emb.filter(col("vec_id") < 8), sq8Ix, 3)
      .as[(Long, Long, Double, Long)].collect().toSet
    AnnIndex.compactCodes(spark, sq8Ix, targetFiles = 2)
    val a2 = AnnIndex.probeSq8(emb.filter(col("vec_id") < 8), sq8Ix, 3)
      .as[(Long, Long, Double, Long)].collect().toSet
    assert(a2 == b2)
    assert(parquetFiles(s"$sq8Ix/codes") <= 2)

    // E2 band index: same law through MinHash.compactBands
    val docs = Tables.documents(spark, "/root/testdata/sf0.001")
    val bIx = graft.ops.Sink.scratchDir("ext_bands_comp")
    graft.ext.MinHash.writeBands(docs.filter(col("doc_id") % 10 =!= 0), "doc_id", "text", bIx)
    // several small appends — each adds a file per touched band partition
    (0 until 3).foreach { r =>
      graft.ext.MinHash.appendBands(
        docs.filter(col("doc_id") % 10 === 0 && col("doc_id") % 3 === r),
        "doc_id", "text", bIx)
    }
    val b3 = graft.ext.MinHash.probeBands(spark, bIx)
      .as[(Long, Long, Double)].collect().toSet
    val bandFilesBefore = parquetFiles(s"$bIx/bands")
    graft.ext.MinHash.compactBands(spark, bIx, targetFiles = 2)
    val a3 = graft.ext.MinHash.probeBands(spark, bIx)
      .as[(Long, Long, Double)].collect().toSet
    assert(a3 == b3)
    assert(b3.nonEmpty)
    assert(parquetFiles(s"$bIx/bands") < bandFilesBefore)
    assert(parquetFiles(s"$bIx/sigs") <= 2)
  }

  test("AnnIndex incremental laws: appendSq8/appendPq equal full re-encode on the saved model") {
    import graft.ext.{AnnIndex, Similarity}
    val emb = Tables.embeddings(spark, "/root/testdata/sf0.001")
    val base = emb.filter(col("vec_id") % 7 =!= 3)
    val delta = emb.filter(col("vec_id") % 7 === 3)
    val sq8Ix = graft.ops.Sink.scratchDir("ext_sq8_inc")
    AnnIndex.writeSq8(base, sq8Ix)
    AnnIndex.appendSq8(delta, sq8Ix)
    val viaSq8 = spark.read.parquet(s"$sq8Ix/codes")
      .select(col("vec_id"), col("qn2")).as[(Long, Long)].collect().toSet
    val rebuiltSq8 = Similarity
      .sq8Codes(emb, spark.read.parquet(s"$sq8Ix/grid"))
      .select(col("vec_id"), col("qn2")).as[(Long, Long)].collect().toSet
    assert(viaSq8 == rebuiltSq8)
    assert(viaSq8.size == emb.count())

    val pqIx = graft.ops.Sink.scratchDir("ext_pq_inc")
    AnnIndex.writePq(base, 4, 16, 4, 1, pqIx)
    AnnIndex.appendPq(delta, 4, 16, pqIx)
    val viaPq = spark.read.parquet(s"$pqIx/codes")
      .as[(Long, Long, Long, Long, Long)].collect().toSet
    assert(viaPq.size == emb.count())
    // delta rows carry codes from the SAVED (base-trained) codebooks:
    // re-encode the delta against the saved books and compare
    val books = spark.read.parquet(s"$pqIx/codebooks")
    val reEnc = (0 until 4).map { i =>
      Similarity.assignToCentroid(
        delta.select(col("vec_id"), expr(s"slice(embedding, ${i * 16 + 1}, 16)").as("embedding")),
        books.filter(col("sub") === i)
          .select(col("cid").as("vec_id"), col("cent").as("embedding")))
        .select(col("vec_id"), col("cid").as(s"code_$i"))
    }.reduce(_.join(_, Seq("vec_id")))
      .as[(Long, Long, Long, Long, Long)].collect().toSet
    assert(reEnc.subsetOf(viaPq))
  }

  test("centroidClassify on a single-class corpus never predicts the absent class") {
    // Every doc is pure stopwords -> seed rule labels ALL "hi"; the
    // "lo" centroid is NULL in the trained row. The r10 ADVICE bug:
    // NULL-distance fall-through labeled everything the ABSENT class.
    val docs = Seq(
      (1L, "the a of and is to the a of and"),
      (2L, "the the the of of of is is is to")).toDF("doc_id", "text")
    val got = QualityModel.centroidClassify(docs, "doc_id", "text", TextOps.enMarkers)
      .as[(Long, String, String)].collect()
    assert(got.length == 2)
    assert(got.forall(r => r._2 == "hi" && r._3 == "hi"), got.mkString(","))
  }

  // ---- E4j ---------------------------------------------------------------
  test("sceneCuts matches the arithmetic shot-boundary test on decoded frames") {
    import graft.functions.VideoCodec
    val (w, h, nf, seed, thr) = (8, 6, 5, 12345L, 4096L)
    val expected = (1 until nf).filter { f =>
      (0 until w * h).map(i =>
        math.abs(VideoCodec.pixel(seed, f, i) - VideoCodec.pixel(seed, f - 1, i)).toLong)
        .sum > thr
    }.map(_.toLong)
    val got = Seq(Tuple1(seed)).toDF("seed")
      .select(Multimodal.sceneCuts(
        Multimodal.synthVideo($"seed", w, h, nf), thr).as("cuts"))
      .as[Seq[Long]].collect().head
    assert(got == expected, s"got $got expected $expected")
  }

  // ---- E2m ---------------------------------------------------------------
  test("lshScurve: identical docs land in bucket 9 fully caught; disjoint docs make no pair") {
    val docs = Seq(
      (1L, "alpha beta gamma delta epsilon zeta"),
      (2L, "alpha beta gamma delta epsilon zeta"), // jaccard 1.0 with doc 1
      (3L, "one two three four five six")          // shares no shingle
    ).toDF("doc_id", "text")
    val got = MinHash.lshScurve(docs, "doc_id", "text")
      .as[(Long, Long, Long, Double)].collect().toSeq
    // zero-jaccard pairs don't exist by construction -> exactly one bucket
    assert(got == Seq((9L, 1L, 1L, 1.0)))
  }

  // ---- E5r ---------------------------------------------------------------
  test("lidClassify recovers the label on a corpus with real trigram signal") {
    // two 'languages' with disjoint trigram inventories; held-out-style
    // docs (4,5) still match their language's profile exactly
    val docs = Seq(
      (1L, "aa", "aaabba aababb"), (2L, "aa", "abbaab babaab"),
      (3L, "zz", "zyzxyz xyzzyx"), (4L, "aa", "baabab"),
      (5L, "zz", "zxyzzy")).toDF("doc_id", "lang", "text")
    val got = ExtQueries.lidClassify(docs)
      .as[(Long, String, String)].collect().map(r => r._1 -> r._3).toMap
    assert(got == Map(1L -> "aa", 2L -> "aa", 3L -> "zz", 4L -> "aa", 5L -> "zz"))
  }

  // ---- E3l ---------------------------------------------------------------
  test("e3_hard_negatives never returns a co-clustered pair") {
    val dir = "/root/testdata/sf0.001"
    val clusters = ExtQueries.all("e3_kmeans").run(spark, dir)
      .select($"vec_id", $"cluster").as[(Long, Long)].collect().toMap
    val pairs = ExtQueries.all("e3_hard_negatives").run(spark, dir)
      .select($"query_id", $"vec_id").as[(Long, Long)].collect().toSeq
    assert(pairs.nonEmpty)
    pairs.foreach { case (q, v) =>
      assert(clusters(q) != clusters(v), s"pair ($q,$v) co-clustered")
    }
  }

  // ---- E5q ---------------------------------------------------------------
  test("bm25 scores only matching docs and is monotone in tf; rrfFuse is exact") {
    val docs = Seq((1L, "x x y"), (2L, "x z"), (3L, "y z")).toDF("doc_id", "text")
    val qt = Seq(Tuple1("x")).toDF("word")
    val got = Retrieval.bm25(docs, "doc_id", "text", qt)
      .as[(Long, Long, Double)].collect().map(r => r._1 -> ((r._2, r._3))).toMap
    assert(got.keySet == Set(1L, 2L)) // doc 3 has no query term
    assert(got(1L)._1 == 1L && got(2L)._1 == 1L)
    assert(got(1L)._2 > got(2L)._2) // tf 2 beats tf 1 (idf, avgdl shared)
    // rrf: doc 2 in both lists beats doc 1 (dense only) beats doc 3 (worse rank)
    val a = Seq((1L, 1L), (2L, 2L)).toDF("doc_id", "rk")
    val b = Seq((2L, 1L), (3L, 2L)).toDF("doc_id", "rk")
    val rrf = Retrieval.rrfFuse(a, b, "doc_id")
      .select($"doc_id", $"rrf").as[(Long, Double)].collect().toMap
    assert(rrf(1L) == 1.0 / 61.0)
    assert(rrf(2L) == 1.0 / 62.0 + 1.0 / 61.0)
    assert(rrf(3L) == 1.0 / 62.0)
  }

  // ---- E6c ---------------------------------------------------------------
  test("e6_ppl_buckets: per-language terciles balance within 1 and order by score") {
    val rows = ExtQueries.all("e6_ppl_buckets").run(spark, "/root/testdata/sf0.001")
      .as[(Long, String, Double, Int)].collect().toSeq
    assert(rows.nonEmpty)
    rows.groupBy(_._2).foreach { case (lang, rs) =>
      val sizes = rs.groupBy(_._4).view.mapValues(_.size).values.toSeq
      assert(sizes.max - sizes.min <= 1, s"$lang terciles unbalanced: $sizes")
      // min head score >= max tail score (ntile is ordered by mean_p desc)
      val byB = rs.groupBy(_._4)
      if (byB.contains(1) && byB.contains(3))
        assert(byB(1).map(_._3).min >= byB(3).map(_._3).max, lang)
    }
  }

  // ---- E3h ---------------------------------------------------------------
  test("sq8Codes quantizes to the hand-derived grid; sq8TopK ranks by code cosine") {
    // dims: d1 in [0,4] -> scale 64/unit; d2 constant -> code 0
    // v(0)=(0,1): q1 = floor(0/4*256)=0; v(1)=(2,1): floor(2/4*256)=128
    // v(2)=(4,1): floor(4/4*256)=256 -> clamp 255
    val vecs = Seq(
      (0L, Array(0f, 1f)), (1L, Array(2f, 1f)), (2L, Array(4f, 1f)))
      .toDF("vec_id", "embedding")
    val grid = Similarity.sq8Grid(vecs)
    val codes = Similarity.sq8Codes(vecs, grid)
      .select($"vec_id", $"codes").as[(Long, Seq[Int])].collect().toMap
    assert(codes(0L) == Seq(0, 0))
    assert(codes(1L) == Seq(128, 0))
    assert(codes(2L) == Seq(255, 0))
    // identical vectors share codes -> their mutual quantized cosine is
    // exactly 1.0 and each ranks the other first
    val dup = Seq((0L, Array(1f, 3f)), (1L, Array(1f, 3f)), (2L, Array(9f, 0f)))
      .toDF("vec_id", "embedding")
    val top = Similarity.sq8TopK(dup.filter($"vec_id" < 2), dup, 1)
      .select($"query_id", $"vec_id", $"q_cos")
      .as[(Long, Long, Double)].collect().toSeq.sortBy(_._1)
    assert(top == Seq((0L, 1L, 1.0), (1L, 0L, 1.0)))
  }

  // ---- E2 ---------------------------------------------------------------
  test("shingles yields n-grams in order and is empty below n tokens") {
    val df = Seq("a b c d", "a b").toDF("text")
      .select(MinHash.shingles(TextOps.tokens(col("text")), 3).as("sh"))
    val got = df.as[Seq[String]].collect()
    assert(got(0) == Seq("a b c", "b c d"))
    assert(got(1) == Seq.empty)
  }

  test("minhash candidate pairs surface a planted near-duplicate") {
    val base = (1 to 40).map(i => s"tok$i").mkString(" ")
    val nearDup = (1 to 40).map(i => if (i == 40) "changed" else s"tok$i").mkString(" ")
    val unrelated = (100 to 140).map(i => s"other$i").mkString(" ")
    val docs = Seq((1L, base), (2L, nearDup), (3L, unrelated)).toDF("id", "body")
    val pairs = MinHash.candidatePairs(docs, "id", "body")
      .select("doc_a", "doc_b", "jaccard_est").as[(Long, Long, Double)].collect()
    assert(pairs.exists(p => p._1 == 1L && p._2 == 2L && p._3 > 0.5))
    assert(!pairs.exists(p => p._2 == 3L || p._1 == 3L))
  }

  test("identical texts get identical signatures; est jaccard is 1.0") {
    val docs = Seq((1L, "x y z w v u t s"), (2L, "x y z w v u t s")).toDF("id", "body")
    val pairs = MinHash.candidatePairs(docs, "id", "body")
      .select("jaccard_est").as[Double].collect()
    assert(pairs.toSeq == Seq(1.0))
  }

  // ---- E5j: NFC normalization -------------------------------------------
  test("nfcNormalize composes decomposed sequences, identity on NFC text") {
    val df = Seq("cafe\u0301", "caf\u00e9", "plain", null).toDF("t")
      .select(TextOps.let1(TextOps.nfcNormalize(col("t"))) { n =>
        struct(n, length(n))
      }.as("r"))
      .select(col("r.*"))
    val got = df.collect().map(r =>
      (Option(r.getString(0)), if (r.isNullAt(1)) -1 else r.getInt(1)))
    // decomposed e+U+0301 (5 cps) composes to é (4 cps); composed and
    // ASCII inputs pass through; null stays null
    assert(got(0) == (Some("caf\u00e9"), 4))
    assert(got(1) == (Some("caf\u00e9"), 4))
    assert(got(2) == (Some("plain"), 5))
    assert(got(3) == (None, -1))
  }

  // ---- E3 ---------------------------------------------------------------
  test("cosine is 1 for parallel vectors, 0 for orthogonal") {
    val df = Seq(
      (Array(1f, 0f), Array(2f, 0f)),
      (Array(1f, 0f), Array(0f, 5f))).toDF("a", "b")
    val cos = df.select(
      Similarity.cosineFrom(
        Similarity.dot(col("a"), col("b")),
        Similarity.norm2(col("a")), Similarity.norm2(col("b"))).as("c"))
      .as[Double].collect()
    assert(math.abs(cos(0) - 1.0) < 1e-12)
    assert(cos(1) == 0.0)
  }

  test("cosineTopK ranks the nearest corpus vector first and excludes self") {
    val vecs = Seq(
      (0L, Array(1f, 0f, 0f)),
      (1L, Array(0.9f, 0.1f, 0f)),  // closest to 0
      (2L, Array(0f, 1f, 0f)),
      (3L, Array(0.5f, 0.5f, 0f))).toDF("vec_id", "embedding")
    val top = Similarity.cosineTopK(vecs.filter(col("vec_id") === 0L), vecs, 2)
      .select("vec_id", "rk").as[(Long, Long)].collect().toMap
    assert(!top.contains(0L))
    assert(top(1L) == 1L) // rank 1 = nearest
    assert(top(3L) == 2L)
  }

  test("kmeans resolves two separated groups regardless of a bad init") {
    // both init seeds (vec_id 0, 1) start inside the x-axis group;
    // after the update step the y-axis group must still pull one
    // centroid over — the behavior fixed init alone cannot fake
    val vecs = Seq(
      (0L, Array(1f, 0.01f)), (1L, Array(0.99f, 0f)), (2L, Array(1f, 0.02f)),
      (3L, Array(0.01f, 1f)), (4L, Array(0f, 0.98f)), (5L, Array(0.02f, 1f)))
      .toDF("vec_id", "embedding")
    val out = Similarity.kmeans(vecs, k = 2, iters = 2)
      .select("vec_id", "cluster").as[(Long, Long)].collect().toMap
    assert(out.keySet == Set(0L, 1L, 2L, 3L, 4L, 5L))
    assert(Set(out(0L), out(1L), out(2L)).size == 1) // x-group together
    assert(Set(out(3L), out(4L), out(5L)).size == 1) // y-group together
    assert(out(0L) != out(3L)) // and apart from each other
  }

  test("bucketedTopK only pairs vectors sharing the sign bucket") {
    val vecs = Seq(
      (0L, Array(1f, 1f)), (1L, Array(2f, 3f)),   // bucket "11"
      (2L, Array(-1f, 1f))).toDF("vec_id", "embedding") // bucket "01"
    val out = Similarity.bucketedTopK(vecs, vecs, 2, 5)
      .select("query_id", "vec_id").as[(Long, Long)].collect().toSet
    assert(out == Set((0L, 1L), (1L, 0L))) // vec 2 isolated in its bucket
  }

  test("ivfTopK probes only the query's own centroid cell") {
    val vecs = Seq(
      (0L, Array(1f, 0f)),    // centroid A
      (1L, Array(0f, 1f)),    // centroid B
      (2L, Array(0.9f, 0.1f)),  // cell A
      (3L, Array(0.1f, 0.9f)),  // cell B
      (4L, Array(0.95f, 0.05f)) // cell A
    ).toDF("vec_id", "embedding")
    val cents = vecs.filter(col("vec_id") < 2)
    val out = Similarity.ivfTopK(vecs.filter(col("vec_id") === 2L), vecs, cents, 5)
      .select("vec_id").as[Long].collect().toSet
    // cell A members only (0, 4) — vector 3 lives in cell B, never scored
    assert(out == Set(0L, 4L))
  }

  // ---- E4 ---------------------------------------------------------------
  test("blob plumbing: byte length, digest stability, features in [0,1)") {
    val df = Seq("hello").toDF("t").select(
      Multimodal.blobBytes(Multimodal.toBlob(col("t"))).as("n"),
      Multimodal.blobDigest(Multimodal.toBlob(col("t"))).as("d"),
      Multimodal.fakeFeatures(Multimodal.toBlob(col("t")), 8).as("f"))
    val (n, d, f) = df.as[(Long, String, Seq[Double])].head()
    assert(n == 5L)
    assert(d == "5d41402abc4b2a76b9719d911017c592") // md5("hello"), cross-engine
    assert(f.length == 8 && f.forall(x => x >= 0.0 && x < 1.0))
  }

  // ---- E5 ---------------------------------------------------------------
  test("language ID picks the language with the most marker tokens") {
    val df = Seq(
      "der hund und die katze ist da",
      "the cat and the dog is here",
      "le chat et la maison est grande").toDF("text")
      .select(TextOps.langIdGuess(TextOps.tokens(col("text"))).as("g"))
    assert(df.as[String].collect().toSeq == Seq("de", "en", "fr"))
  }

  test("stopword ratio counts token frequency, not distinct overlap") {
    val df = Seq("the the the word").toDF("text")
      .select(TextOps.stopwordRatio(TextOps.tokens(col("text")), Seq("the")).as("r"))
    assert(df.as[Double].head() == 0.75)
  }

  test("simhash is equal for identical token streams and differs across texts") {
    val df = Seq("alpha beta gamma delta", "alpha beta gamma delta", "zz yy xx ww")
      .toDF("text")
      .select(transform(TextOps.tokens(col("text")), t => TextOps.md5Int32(t)).as("hs"))
      .select(TextOps.simhash32("hs").as("sh"))
    val got = df.as[Long].collect()
    assert(got(0) == got(1))
    assert(got(0) != got(2))
    assert(got.forall(v => v >= 0L && v < (1L << 32)))
  }

  test("fingerprint normalizes case and outer whitespace") {
    val df = Seq(("  Hello World ", "hello world")).toDF("a", "b")
      .select(TextOps.fingerprint(col("a")).as("fa"), TextOps.fingerprint(col("b")).as("fb"))
    val (fa, fb) = df.as[(String, String)].head()
    assert(fa == fb)
  }

  test("connectedComponents labels chains transitively and keeps singletons") {
    // chain 5-4-3-2-1 forces multiple propagation rounds (diameter 4);
    // 9 is an isolated singleton
    val verts = Seq(1L, 2L, 3L, 4L, 5L, 9L).toDF("id")
    val pairs = Seq((5L, 4L), (4L, 3L), (3L, 2L), (2L, 1L)).toDF("a", "b")
    val got = Dedup.connectedComponents(verts, pairs)
      .as[(Long, Long)].collect().toMap
    assert(got == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L, 5L -> 1L, 9L -> 9L))
  }

  test("exactDeterministic with tiebreaker columns resolves order ties") {
    val df = Seq((1, "k", "b"), (1, "k", "a"), (2, "k", "z")).toDF("ord", "key", "tb")
    val kept = Dedup.exactDeterministic(df, Seq("key"), Seq("ord", "tb"))
      .select("ord", "tb").as[(Int, String)].head()
    assert(kept == ((1, "a"))) // ord ties at 1; tb breaks it deterministically
  }

  test("signBucket pads short embeddings to nBits with '0' (oracle parity)") {
    val df = Seq(
      (1L, Seq(1.0f, -1.0f)),          // 2 dims, bucket asks for 4
      (2L, Seq(1.0f, -1.0f, 1.0f, 1.0f))).toDF("id", "emb")
    val got = df.select(Similarity.signBucket(col("emb"), 4).as("b"))
      .as[String].collect().toSeq
    assert(got == Seq("1000", "1011")) // missing dims -> '0', never a shorter string
  }

  // ---- E6: composed corpus cleaning --------------------------------------
  test("CorpusPipeline gates, exact-dedups and near-dup-dedups in one pass") {
    val en = (1 to 40).map(i => s"tok$i").mkString("the a of and is to ", " ", "")
    val enNearDup = (1 to 40).map(i => if (i == 40) "changed" else s"tok$i")
      .mkString("the a of and is to ", " ", "")
    val docs = Seq(
      (1L, en),                                  // survives (cluster rep of {1,4,5})
      (2L, "the short one"),                     // gated: under min tokens
      (3L, "der die das und ist zu der die das und ist zu"), // gated: not 'en'
      (4L, en),                                  // exact dup of 1 -> dropped
      (5L, enNearDup),                           // near-dup of 1 -> dropped
      (6L, "the a of unique words entirely " + (100 to 140).map("w" + _).mkString(" "))
    ).toDF("doc_id", "text")
    val out = CorpusPipeline.clean(docs, minTokens = 5, langs = Seq("en"))
      .select("doc_id").as[Long].collect().sorted.toSeq
    assert(out == Seq(1L, 6L))
  }

  // ---- E7: deterministic sampling -----------------------------------------
  test("assignSplit is deterministic and near the configured proportions") {
    val ids = spark.range(10000).toDF("id")
    val splits = ids.select(Sampling.assignSplit(col("id")).as("s"))
      .groupBy("s").count().as[(String, Long)].collect().toMap
    assert(splits.keySet == Set("train", "val", "test"))
    assert(math.abs(splits("train") - 8000L) < 300, splits.toString)
    assert(math.abs(splits("val") - 1000L) < 150, splits.toString)
    // determinism: a second evaluation assigns identically
    val a = ids.select(col("id"), Sampling.assignSplit(col("id")).as("s")).collect().toSeq
    val b = ids.select(col("id"), Sampling.assignSplit(col("id")).as("s")).collect().toSeq
    assert(a == b)
  }

  test("mixtureKeep honors rate 0 (drop all) and 1000 (keep all)") {
    val df = spark.range(500).toDF("id")
      .withColumn("src", when(col("id") % 2 === 0, "a").otherwise("b"))
    val kept = df.filter(
      Sampling.mixtureKeep(col("id"), col("src"), Map("a" -> 0, "b" -> 1000), 500))
      .groupBy("src").count().as[(String, Long)].collect().toMap
    assert(!kept.contains("a"))
    assert(kept("b") == 250L)
  }

  // ---- E2d: SimHash hamming pairs ---------------------------------------
  test("simhashPairs surfaces a near-dup within radius and skips far docs") {
    val base = (1 to 60).map(i => s"tok$i").mkString(" ")
    val nearDup = (1 to 60).map(i => if (i == 60) "changed" else s"tok$i").mkString(" ")
    val unrelated = (100 to 160).map(i => s"other$i").mkString(" ")
    val docs = Seq((1L, base), (2L, nearDup), (3L, unrelated)).toDF("id", "body")
    val pairs = Dedup.simhashPairs(docs, "id", "body", radius = 3)
      .select("doc_a", "doc_b", "hamming").as[(Long, Long, Long)].collect()
    assert(pairs.exists(p => p._1 == 1L && p._2 == 2L && p._3 <= 3L))
    assert(!pairs.exists(p => p._1 == 3L || p._2 == 3L))
  }

  // ---- E4: real image codec round-trip ----------------------------------
  test("PNG encode->decode round-trip recovers the formula pixels exactly") {
    import graft.functions.ImageCodec
    val seeds = Seq(0L, 7L, (1L << 32) - 1L)
    for (seed <- seeds) {
      val bytes = ImageCodec.encodeGrayPng(seed, 8, 8)
      val row = ImageCodec.decodeStats(bytes)
      assert(row != null)
      val px = (0 until 64).map(i => ImageCodec.pixel(seed, i.toLong).toLong)
      assert(row.getLong(0) == 8L && row.getLong(1) == 8L)
      assert(row.getLong(2) == px.sum)
      assert(row.getLong(3) == px.min)
      assert(row.getLong(4) == px.max)
    }
  }

  test("imageStats yields null for undecodable payloads (coerce, not crash)") {
    val df = Seq(Array[Byte](1, 2, 3), Array.empty[Byte]).toDF("blob")
      .select(Multimodal.imageStats(col("blob")).as("st"))
    assert(df.collect().forall(_.isNullAt(0)))
  }

  test("decode query shape evaluates the codec chain once per row (inline)") {
    val df = Seq((1L, "alpha"), (2L, "beta")).toDF("doc_id", "text")
      .select(col("doc_id"), inline(array(
        Multimodal.imageStats(Multimodal.synthImage(
          TextOps.md5Int32(md5(col("text"))), 8, 8)))))
    val plan = df.queryExecution.optimizedPlan.toString
    assert(plan.linesIterator.count(_.contains("graft_decode_image_stats")) <= 1,
      s"decode duplicated in plan:\n$plan")
    val rows = df.collect()
    assert(rows.length == 2 && rows.forall(r => r.getLong(1) == 8L && r.getLong(2) == 8L))
  }

  test("animated-GIF encode->decode frame-sample recovers the formula pixels exactly") {
    import graft.functions.VideoCodec
    val (w, h, nf) = (8, 6, 5)
    val seed = 987654321L
    val bytes = VideoCodec.encodeGifAnim(seed, w, h, nf)
    val row = VideoCodec.frameSampleStats(bytes)
    assert(row != null, "gif did not decode")
    val mid = nf / 2
    val px = (0 until w * h).map(i => VideoCodec.pixel(seed, mid, i).toLong)
    assert(row.getLong(0) == nf.toLong)
    assert(row.getLong(1) == mid.toLong)
    assert(row.getLong(2) == px.sum, "px_sum mismatch — GIF palette not lossless?")
    assert(row.getLong(3) == px.min && row.getLong(4) == px.max)
    assert(VideoCodec.frameSampleStats("junk".getBytes) == null)
  }

  test("WAV encode->parse round-trip recovers the formula sample stats") {
    import graft.functions.AudioCodec
    val n = 32
    val seed = 123456789L
    val expectedSum = (0 until n).map(i => AudioCodec.sample(seed, i).toLong).sum
    val expectedPeak = (0 until n).map(i => math.abs(AudioCodec.sample(seed, i)).toLong).max
    val out = Seq(seed).toDF("seed")
      .select(Multimodal.audioStats(Multimodal.synthAudio(col("seed"), n)).as("s"))
      .select("s.n_samples", "s.sample_rate", "s.amp_sum", "s.amp_peak")
      .as[(Long, Long, Long, Long)].head()
    assert(out == ((n.toLong, AudioCodec.SampleRate.toLong, expectedSum, expectedPeak)))
  }

  test("audioStats yields null for malformed payloads (coerce, not crash)") {
    val out = Seq("not a wav at all").toDF("junk")
      .select(Multimodal.audioStats(Multimodal.toBlob(col("junk"))).as("s"))
      .collect()
    assert(out.length == 1 && out.head.isNullAt(0))
  }

  test("dupWindowFrac flags repeated windows; short docs score zero") {
    val df = Seq(
      (1L, "spam spam spam spam spam"), // all bigrams identical
      (2L, "all words here are unique"), // no repeated bigram
      (3L, "one")                        // shorter than the window
    ).toDF("doc_id", "text")
      .select(col("doc_id"),
        TextOps.dupWindowFrac(
          MinHash.shingleHashesFromTokens(TextOps.tokens(col("text")), 2)).as("f"))
      .as[(Long, Double)].collect().toMap
    assert(df(1L) == 0.75) // 4 bigrams, 1 distinct
    assert(df(2L) == 0.0)
    assert(df(3L) == 0.0)
  }

  test("typeTokenRatio measures lexical diversity") {
    val df = Seq((1L, "a a a a"), (2L, "a b c d"))
      .toDF("doc_id", "text")
      .select(col("doc_id"),
        TextOps.typeTokenRatio(TextOps.tokens(col("text"))).as("r"))
      .as[(Long, Double)].collect().toMap
    assert(df(1L) == 0.25 && df(2L) == 1.0)
  }

  test("chunks emits overlapping windows with short tail; tokenizer runs per doc") {
    val out = Seq((1L, "t1 t2 t3 t4 t5 t6 t7"))
      .toDF("doc_id", "text")
      .select(col("doc_id"), posexplode(
        TextOps.chunks(TextOps.tokens(col("text")), chunkLen = 3, stride = 2)))
      .select(col("pos"), col("col.chunk_text"), col("col.n_chunk_tokens"))
      .as[(Int, String, Long)].collect().toSeq
    assert(out == Seq(
      (0, "t1 t2 t3", 3L), (1, "t3 t4 t5", 3L), (2, "t5 t6 t7", 3L), (3, "t7", 1L)))
  }

  test("mixtureCopies: whole copies plus fractional draw; 1000 is identity") {
    val df = Seq((1L, "hot"), (2L, "cold"), (3L, "base")).toDF("id", "src")
      .select(col("id"), Sampling.mixtureCopies(
        col("id"), col("src"), Map("hot" -> 2500, "cold" -> 0), 1000).as("c"))
      .as[(Long, Int)].collect().toMap
    assert(df(1L) == 2 || df(1L) == 3) // 2 whole + 50% permille third
    assert(df(2L) == 0)
    assert(df(3L) == 1) // rate 1000 = exactly one copy, no draw
  }

  test("multi-probe IVF: probing 3 cells recovers strictly more of the exact top-k than 1") {
    val dir = "/root/testdata/sf0.001"
    val emb = Tables.embeddings(spark, dir)
    val q = emb.filter(col("vec_id") < 8)
    val cents = emb.filter(col("vec_id") < 16)
    val exact = Similarity.cosineTopK(q, emb, 10)
      .select(col("query_id"), col("vec_id"))
    def hits(nprobe: Int): Long = {
      val ann = Similarity.ivfTopKProbe(q, emb, cents, 10, nprobe)
        .select(col("query_id").as("aq"), col("vec_id").as("av"))
      exact.join(ann,
        col("query_id") === col("aq") && col("vec_id") === col("av"),
        "left_semi").count()
    }
    val h1 = hits(1)
    val h3 = hits(3)
    // superset of probed cells => recall can only grow (the law)...
    assert(h3 >= h1, s"recall must be monotone in nprobe: $h3 < $h1")
    // ...and on this corpus the extra cells DO recover neighbors a
    // single-cell probe misses (the dial does something)
    assert(h3 > h1, s"expected nprobe=3 to beat nprobe=1, both hit $h1")
    // nprobe=1 must equal the single-cell operator exactly
    val p1 = Similarity.ivfTopKProbe(q, emb, cents, 10, 1)
      .collect().map(_.toSeq).sortBy(_.mkString("|")).toSeq
    val s1 = Similarity.ivfTopK(q, emb, cents, 10)
      .collect().map(_.toSeq).sortBy(_.mkString("|")).toSeq
    assert(p1 == s1)
  }

  test("e7_cluster_split: no near-dup cluster ever straddles a split boundary") {
    // the leakage property itself, asserted on real testdata: every
    // member of a component carries the identical split label, and
    // every document is assigned exactly once
    val df = SparkEntry.queries("e7_cluster_split")(spark, "/root/testdata/sf0.001")
    val straddling = df.groupBy(col("component"))
      .agg(countDistinct(col("split")).as("n_splits"))
      .filter(col("n_splits") > 1)
      .count()
    assert(straddling == 0L)
    val docs = Tables.documents(spark, "/root/testdata/sf0.001").count()
    assert(df.count() == docs)
    assert(df.select("split").distinct().count() >= 2) // nontrivial assignment
  }

  test("bloomDecontaminated is bit-identical to the unfiltered anti-join") {
    // no false negatives by construction: the Bloom prefilter may
    // only ADD candidates (false positives), which the exact verify
    // join removes — so survivors must match the plain operator on
    // real data, and a tiny 64-bit mask (worst-case FP rate) must
    // STILL be exact.
    val docs = Tables.documents(spark, "/root/testdata/sf0.001")
    val corpus = docs.filter(col("doc_id") % 20 =!= 0)
    val bench = docs.filter(col("doc_id") % 20 === 0)
    val plain = {
      val bad = CorpusPipeline.contaminated(corpus, "doc_id", "text", bench)
        .select(col("doc_id"))
      corpus.join(bad, Seq("doc_id"), "left_anti")
        .select("doc_id").as[Long].collect().toSet
    }
    val bloom = CorpusPipeline.bloomDecontaminated(corpus, "doc_id", "text", bench)
      .select("doc_id").as[Long].collect().toSet
    assert(bloom == plain)
    val saturated = CorpusPipeline.bloomDecontaminated(
      corpus, "doc_id", "text", bench, bits = 64, hashes = 2)
      .select("doc_id").as[Long].collect().toSet
    assert(saturated == plain)
  }

  test("redactPii masks emails and phones with typed placeholders and counts") {
    val df = Seq(
      (1L, "mail bob.smith+x@ex-corp.io or call 555-1234 today"),
      (2L, "no contact info at all"))
      .toDF("id", "text")
      .select(col("id"),
        TextOps.redactPii(col("text")).as("red"),
        TextOps.piiCount(col("text"), TextOps.EmailRe).as("ne"),
        TextOps.piiCount(col("text"), TextOps.PhoneRe).as("np"))
      .as[(Long, String, Long, Long)].collect()
      .map(r => r._1 -> ((r._2, r._3, r._4))).toMap
    assert(df(1L) == (("mail [EMAIL] or call [PHONE] today", 1L, 1L)))
    assert(df(2L) == (("no contact info at all", 0L, 0L)))
  }

  test("containmentPairs flags a short doc pasted into a long one; Jaccard would not") {
    // doc 1 = 5 tokens (3 distinct 3-shingles), fully contained in doc 2
    // (10 tokens, 8 distinct shingles); doc 3 shares nothing.
    val docs = Seq(
      (1L, "a b c d e"),
      (2L, "z y x a b c d e w v"),
      (3L, "p q r s t u")).toDF("id", "body")
    val out = MinHash.containmentPairs(docs, "id", "body", 3, 0.5)
      .as[(Long, Long, Long, Long, Long, Double, Double)].collect()
    assert(out.length == 1)
    val (a, b, common, na, nb, ca, cb) = out.head
    assert((a, b, common, na, nb) == ((1L, 2L, 3L, 3L, 8L)))
    assert(ca == 1.0) // doc 1 fully inside doc 2
    assert(cb == 3.0 / 8.0)
    // the symmetric Jaccard of the same pair sits BELOW the threshold
    assert(common.toDouble / (na + nb - common) < 0.5)
  }

  test("mutualKnnGraph equals reciprocated directed top-k and is canonical") {
    val vecs = (0L until 16L).map { i =>
      (i, Array.tabulate(8)(d => math.sin(i * 1.7 + d * 0.9).toFloat))
    }.toDF("vec_id", "embedding")
    val directed = Similarity.bucketedTopK(vecs, vecs, 3, 2)
      .select("query_id", "vec_id").as[(Long, Long)].collect().toSet
    val expected = directed.collect {
      case (q, v) if q < v && directed.contains((v, q)) => (q, v)
    }
    val got = Similarity.mutualKnnGraph(vecs, 3, 2)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(got == expected)
    assert(got.forall { case (a, b) => a < b })
    assert(got.nonEmpty) // fixture sanity: some edge reciprocates
  }

  test("epochShuffle: each epoch is a full permutation, epochs differ, law vs serial window") {
    import org.apache.spark.sql.expressions.Window
    val df = (1L to 200L).toDF("doc_id")
    // tiny blocks force the two-phase path across many blocks
    val out = Sampling.epochShuffle(df, "doc_id", 2, nBlocks = 8)
      .select("epoch", "position", "doc_id")
      .as[(Long, Long, Long)].collect()
    val byEpoch = out.groupBy(_._1)
    assert(byEpoch.keySet == Set(0L, 1L))
    byEpoch.values.foreach { rows =>
      assert(rows.map(_._2).sorted.toSeq == (1L to 200L)) // exact permutation
    }
    val ord0 = byEpoch(0L).sortBy(_._2).map(_._3).toSeq
    val ord1 = byEpoch(1L).sortBy(_._2).map(_._3).toSeq
    assert(ord0 != ord1) // epochs shuffle differently
    // law: two-phase block rank == the naive one-window-per-epoch rank
    val serial = df
      .crossJoin(broadcast(spark.range(0, 2).select(col("id").as("epoch"))))
      .withColumn("draw", TextOps.md5Int32(
        concat(lit("epoch"), col("epoch").cast("string"), lit("_"),
          col("doc_id").cast("string"))))
      .withColumn("position",
        row_number().over(
          Window.partitionBy(col("epoch")).orderBy(col("draw"), col("doc_id")))
          .cast("long"))
      .select("epoch", "position", "doc_id")
      .as[(Long, Long, Long)].collect().toSet
    assert(out.toSet == serial)
  }

  test("labelPropagation splits two triangles joined by a weak bridge; CC would not") {
    val nodes = (1L to 7L).toDF("id") // 7 is isolated
    val edges = Seq(
      (1L, 2L, 1.0), (2L, 3L, 1.0), (1L, 3L, 1.0),
      (4L, 5L, 1.0), (5L, 6L, 1.0), (4L, 6L, 1.0),
      (3L, 4L, 0.1)).toDF("a", "b", "w")
    val got = Dedup.labelPropagation(nodes, "id", edges, "a", "b", "w", 3)
      .as[(Long, Long)].collect().toMap
    assert(got == Map(1L -> 1L, 2L -> 1L, 3L -> 1L,
      4L -> 4L, 5L -> 4L, 6L -> 4L, 7L -> 7L))
    // contrast: connected components merges the bridge into ONE group
    val cc = Dedup.connectedComponents(nodes, edges.select(col("a"), col("b")))
      .as[(Long, Long)].collect().toMap
    assert(cc.filterKeys(_ <= 6L).values.toSet.size == 1)
  }

  test("stupidBackoffScore: all three backoff branches, hand-derived") {
    // train "a b c a b c": c3(abc)=2, c2(ab)=c2(bc)=2, c1(b)=2, T=6
    val docs = Seq(
      (1L, "a b c a b c"), // train
      (2L, "a b c x"),     // (a,b,c): direct 2/2=1.0; (b,c,x): full backoff to c1(x)=0 -> 0
      (3L, "x b c z")      // (x,b,c): bigram backoff 0.4*(c2(bc)/c1(b))=0.4; (b,c,z): 0
    ).toDF("id", "body")
    val got = LanguageModel.stupidBackoffScore(docs, "id", "body", col("id") >= 2)
      .as[(Long, Long, Double)].collect().map(r => r._1 -> ((r._2, r._3))).toMap
    assert(got.keySet == Set(2L, 3L)) // train docs are never scored
    assert(got(2L) == ((2L, 0.5)))    // (1.0 + 0.0) / 2
    assert(got(3L) == ((2L, 0.2)))    // (0.4 + 0.0) / 2
  }

  test("kcenterSelect: seed then farthest-first, radii non-increasing") {
    def pad(xs: Double*) = (xs ++ Seq.fill(8 - xs.size)(0.0)).map(_.toFloat).toArray
    val vecs = Seq(
      (1L, pad(1.0, 0.0)),    // seed (lowest id)
      (2L, pad(1.0, 0.01)),   // near the seed
      (3L, pad(0.0, 1.0)),    // orthogonal: dist 1
      (4L, pad(-1.0, 0.0))    // antipodal: dist 2
    ).toDF("vec_id", "embedding")
    val got = Similarity.kcenterSelect(vecs, 3)
      .as[(Long, Long, Double)].collect().sortBy(_._1)
    assert(got.map(_._2).toSeq == Seq(1L, 4L, 3L)) // seed, antipode, orthogonal
    assert(got.head._3 == 0.0)
    assert(got(1)._3 > 1.9 && got(2)._3 > 0.9 && got(2)._3 <= got(1)._3)
    // coverage radii never increase as centers are added
    val radii = got.drop(1).map(_._3)
    assert(radii.zip(radii.tail).forall { case (a, b) => b <= a })
  }

  test("kcenterSelect: literal-fold ≡ incremental md path, bit for bit (r19 ADVICE #2)") {
    // the two plan shapes (k ≤ 24: per-round least-fold over center
    // literals; k > 24: running md column through checkpoints) must
    // agree EXACTLY — both fold least() left-assoc in selection
    // order, so every distance is the same IEEE expression
    val rnd = new scala.util.Random(777)
    val vecs = (1L to 60L).map(i =>
      (i, Array.fill(8)(rnd.nextFloat() * 2f - 1f))).toDF("vec_id", "embedding")
    val lit = Similarity.kcenterSelectImpl(vecs, 7, literalFold = true)
      .as[(Long, Long, Double)].collect().sortBy(_._1).toSeq
    val inc = Similarity.kcenterSelectImpl(vecs, 7, literalFold = false)
      .as[(Long, Long, Double)].collect().sortBy(_._1).toSeq
    assert(lit == inc && lit.size == 7)
  }

  test("kcenterSelect: DoubleType embeddings are first-class (r19 ADVICE #2)") {
    // the old path hard-coded getSeq[Float] — a double-array caller
    // got a runtime ClassCastException mid-loop; the element type now
    // drives the literal construction
    def pad(xs: Double*) = (xs ++ Seq.fill(8 - xs.size)(0.0)).toArray
    val vecs = Seq(
      (1L, pad(1.0, 0.0)), (2L, pad(1.0, 0.01)),
      (3L, pad(0.0, 1.0)), (4L, pad(-1.0, 0.0))
    ).toDF("vec_id", "embedding")
    val got = Similarity.kcenterSelect(vecs, 3)
      .as[(Long, Long, Double)].collect().sortBy(_._1)
    assert(got.map(_._2).toSeq == Seq(1L, 4L, 3L))
  }

  test("bfsHops: min hop wins across seeds; unreached vertices absent; hop cap holds") {
    // path 1-2-3-4-5-6-7 plus isolated 9; seeds 1 and 5
    val edges = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L), (5L, 6L), (6L, 7L), (9L, 9L))
      .toDF("a", "b").filter(col("a") =!= col("b")) // drop the self loop
    val seeds = Seq(1L, 5L).toDF("id")
    val got = Dedup.bfsHops(seeds, "id", edges, "a", "b", 2)
      .as[(Long, Long)].collect().toMap
    // vertex 3 is 2 hops from BOTH seeds; vertex 4 takes the min side (1 from 5)
    assert(got == Map(1L -> 0L, 5L -> 0L, 2L -> 1L, 4L -> 1L, 6L -> 1L,
      3L -> 2L, 7L -> 2L))
    // cap 1 stops the frontier after one ring
    val one = Dedup.bfsHops(seeds, "id", edges, "a", "b", 1)
      .as[(Long, Long)].collect().toMap
    assert(one == Map(1L -> 0L, 5L -> 0L, 2L -> 1L, 4L -> 1L, 6L -> 1L))
  }

  test("ssspBounded: cheaper multi-hop path beats direct edge; hop bound flips the answer") {
    // 1-2 (1), 2-3 (1), 1-3 (5), 3-4 (1): two-hop route to 3 costs 2,
    // the direct edge 5
    val edges = Seq((1L, 2L, 1L), (2L, 3L, 1L), (1L, 3L, 5L), (3L, 4L, 1L))
      .toDF("a", "b", "w")
    val seeds = Seq(1L).toDF("id")
    val got = Dedup.ssspBounded(seeds, "id", edges, "a", "b", "w", 3)
      .as[(Long, Long)].collect().toMap
    assert(got == Map(1L -> 0L, 2L -> 1L, 3L -> 2L, 4L -> 3L), got.toString)
    // with only ONE relaxation round the direct (expensive) edge is the
    // best ≤1-edge path — the hop bound is semantics, not a cutoff
    val one = Dedup.ssspBounded(seeds, "id", edges, "a", "b", "w", 1)
      .as[(Long, Long)].collect().toMap
    assert(one == Map(1L -> 0L, 2L -> 1L, 3L -> 5L), one.toString)
  }

  test("vocabCoverage: hand-checked cutoff table, rank-free") {
    val docs = Seq((1L, "a a b"), (2L, "a c")).toDF("id", "body")
    val got = TextOps.vocabCoverage(docs, "body", Seq(1, 2, 3, 5))
      .as[(Long, Long, Long, Double)].collect()
      .map(r => r._1 -> ((r._2, r._3, r._4))).toMap
    // freq: a=3, b=1, c=1; total occurrences = 5
    assert(got(1L) == ((3L, 5L, 1.0)))
    assert(got(2L) == ((1L, 3L, 0.6)))
    assert(got(3L) == ((1L, 3L, 0.6)))
    assert(got(5L) == ((0L, 0L, 0.0)))
  }

  test("graphBeamSearch: recall@k vs exact, monotone in rounds, scores exact-cosine") {
    val dir = "/root/testdata/sf0.001"
    val emb = Tables.embeddings(spark, dir)
    val ix = graft.ops.Sink.scratchDir("beam_recall_ix")
    Similarity.writeKnnGraph(emb, 6, 3, ix)
    val q = emb.filter(col("vec_id") < 32)
    val k = 3
    val exact = Similarity.cosineTopK(q, emb, k)
      .select(col("query_id"), col("vec_id"), col("cos_sim"))
    val nExact = exact.count()
    def beamHits(rounds: Int): Long = {
      val ann = Similarity.graphBeamSearch(q, ix, rounds, 8, k)
        .select(col("query_id").as("aq"), col("vec_id").as("av"))
      exact.join(ann,
        col("query_id") === col("aq") && col("vec_id") === col("av"),
        "left_semi").count()
    }
    val h1 = beamHits(1)
    val h3 = beamHits(3)
    // more rounds = bigger pool; a pooled candidate can only be pushed
    // out of the top-k by a HIGHER-cos candidate, which is itself an
    // exact-top-k member — so hits are monotone in rounds
    assert(h3 >= h1, s"recall must be monotone in rounds: $h3 < $h1")
    // relative floor: the walk starts FROM the bucketed kNN lists, so
    // it can never do worse than the bucketed ANN it navigates over
    // (the testdata embeddings are near-random — bucketed recall is
    // ~3% here and no index can beat the substrate; the ABSOLUTE
    // recall floor lives in the clustered-fixture test below)
    val bucketed = Similarity.bucketedTopK(q, emb, 6, k)
      .select(col("query_id").as("aq"), col("vec_id").as("av"))
    val hBuck = exact.join(bucketed,
      col("query_id") === col("aq") && col("vec_id") === col("av"),
      "left_semi").count()
    assert(h3 >= hBuck, s"beam $h3 must not trail its bucketed substrate $hBuck of $nExact")
    // every returned score is the exact cosine: semi-join the beam
    // results against the exact SCORED pairs (same pair, same double)
    val ann3 = Similarity.graphBeamSearch(q, ix, 3, 8, k)
      .select(col("query_id").as("aq"), col("vec_id").as("av"), col("cos_sim").as("ac"))
    val scoredPairs = Similarity.cosineTopK(q, emb, 1000)
      .select(col("query_id"), col("vec_id"), col("cos_sim"))
    val mismatches = ann3.join(scoredPairs,
      col("aq") === col("query_id") && col("av") === col("vec_id") &&
        col("ac") === col("cos_sim"), "left_anti").count()
    assert(mismatches == 0, s"$mismatches beam scores differ from exact cosine")
  }

  test("graphBeamSearchExternal: rounds=0 ≡ entry top-k, recall monotone, scores exact") {
    val dir = "/root/testdata/sf0.001"
    val emb = Tables.embeddings(spark, dir)
    val corpus = emb.filter(col("vec_id") % 10 =!= 0)
    val ix = graft.ops.Sink.scratchDir("beam_ext_ix")
    Similarity.writeKnnGraph(corpus, 6, 3, ix)
    val q = emb.filter(col("vec_id") % 10 === 0 && col("vec_id") < 200)
    val nQ = q.count()
    val landmarks = corpus.filter(col("vec_id") % 29 === 1)
    val entries = Similarity.cosineTopK(q, landmarks, 4)
      .select(col("query_id"), col("vec_id"))
    val k = 3
    // rounds = 0: no expansion — the answer IS the entry scoring's
    // top-k, i.e. exactly cosineTopK against the landmark set
    val r0 = Similarity.graphBeamSearchExternal(q, ix, entries, 0, 8, k)
      .select(col("query_id"), col("vec_id"), col("cos_sim")).collect()
      .map(_.toSeq).toSet
    val lmTopk = Similarity.cosineTopK(q, landmarks, k)
      .select(col("query_id"), col("vec_id"), col("cos_sim")).collect()
      .map(_.toSeq).toSet
    assert(r0 == lmTopk)
    // every query answers k rows (the pool never starves: 4 entries ≥ k)
    assert(r0.size == nQ * k)
    // recall vs exact over the held-out corpus is monotone in rounds
    val exact = Similarity.cosineTopK(q, corpus, k)
      .select(col("query_id"), col("vec_id"), col("cos_sim"))
    def hits(rounds: Int): Long = {
      val ann = Similarity.graphBeamSearchExternal(q, ix, entries, rounds, 8, k)
        .select(col("query_id").as("aq"), col("vec_id").as("av"))
      exact.join(ann,
        col("query_id") === col("aq") && col("vec_id") === col("av"),
        "left_semi").count()
    }
    val h0 = hits(0)
    val h3 = hits(3)
    assert(h3 >= h0, s"external recall must be monotone in rounds: $h3 < $h0")
    // every returned score is the exact query-candidate cosine
    val ann3 = Similarity.graphBeamSearchExternal(q, ix, entries, 3, 8, k)
      .select(col("query_id").as("aq"), col("vec_id").as("av"), col("cos_sim").as("ac"))
    val scoredPairs = Similarity.cosineTopK(q, corpus, 1000)
      .select(col("query_id"), col("vec_id"), col("cos_sim"))
    val mismatches = ann3.join(scoredPairs,
      col("aq") === col("query_id") && col("av") === col("vec_id") &&
        col("ac") === col("cos_sim"), "left_anti").count()
    assert(mismatches == 0, s"$mismatches external beam scores differ from exact cosine")
  }

  test("graph landmark artifact: k-center content, turnkey probe ≡ explicit-entry walk") {
    import graft.ext.Similarity
    val dir = "/root/testdata/sf0.001"
    val emb = Tables.embeddings(spark, dir)
    val corpus = emb.filter(col("vec_id") % 10 =!= 0)
    val ix = graft.ops.Sink.scratchDir("beam_lm_ix")
    Similarity.writeKnnGraph(corpus, 6, 3, ix)
    Similarity.writeGraphLandmarks(spark, ix, 6)
    // the stored table IS the k-center selection over the corpus
    val stored = Similarity.probeGraphLandmarks(spark, ix)
      .select(col("sel_order"), col("vec_id")).as[(Long, Long)].collect().toSet
    val picks = Similarity.kcenterSelect(corpus, 6)
      .select(col("sel_order"), col("vec_id")).as[(Long, Long)].collect().toSet
    assert(stored == picks && stored.size == 6)
    // turnkey probe ≡ the explicit-entry walk seeded with the same
    // landmarks — the equality that makes the stored table an ENTRY
    // POLICY, not a new search mechanism
    val q = emb.filter(col("vec_id") % 10 === 0 && col("vec_id") < 200)
    val entries = Similarity.cosineTopK(
      q, Similarity.probeGraphLandmarks(spark, ix), 4)
      .select(col("query_id"), col("vec_id"))
    val explicit = Similarity.graphBeamSearchExternal(q, ix, entries, 3, 8, 3)
      .as[(Long, Long, Double, Long)].collect().toSet
    val turnkey = Similarity.graphBeamSearchFromLandmarks(q, ix, 4, 3, 8, 3)
      .as[(Long, Long, Double, Long)].collect().toSet
    assert(turnkey == explicit && turnkey.nonEmpty)
    // probe-time landmark read is artifact-only: no corpus recompute
    val plan = Similarity.probeGraphLandmarks(spark, ix)
      .queryExecution.executedPlan.toString
    assert(plan.contains("landmarks") && !plan.contains("embeddings"), plan)
  }

  test("graphBeamSearchAdc: walk scores from codes, answers re-ranked to exact cosine") {
    val dir = "/root/testdata/sf0.001"
    val emb = Tables.embeddings(spark, dir)
    val ix = graft.ops.Sink.scratchDir("beam_adc_ix")
    Similarity.writeKnnGraph(emb, 6, 3, ix)
    val q = emb.filter(col("vec_id") < 32)
    val ann = Similarity.graphBeamSearchAdc(q, ix, 4, 16, 4, 1, 3, 8, 3)
      .select(col("query_id").as("aq"), col("vec_id").as("av"), col("cos_sim").as("ac"))
    // the returned scores are EXACT cosines — the re-rank touched the
    // real vectors even though the walk never did
    val scoredPairs = Similarity.cosineTopK(q, emb, 1000)
      .select(col("query_id"), col("vec_id"), col("cos_sim"))
    val mismatches = ann.join(scoredPairs,
      col("aq") === col("query_id") && col("av") === col("vec_id") &&
        col("ac") === col("cos_sim"), "left_anti").count()
    assert(mismatches == 0, s"$mismatches ADC-walk answers differ from exact cosine")
    // deterministic end to end: a second run is bit-identical
    val again = Similarity.graphBeamSearchAdc(q, ix, 4, 16, 4, 1, 3, 8, 3)
      .select(col("query_id").as("aq"), col("vec_id").as("av"), col("cos_sim").as("ac"))
    assert(ann.collect().map(_.toSeq).toSet == again.collect().map(_.toSeq).toSet)
    // the SAVED-artifact probe walks to the same answers bit-for-bit
    val pq = graft.ops.Sink.scratchDir("beam_adc_pq")
    graft.ext.AnnIndex.writePq(emb, 4, 16, 4, 1, pq)
    val saved = Similarity.graphBeamSearchAdcSaved(q, ix, pq, 4, 16, 3, 8, 3)
      .select(col("query_id").as("aq"), col("vec_id").as("av"), col("cos_sim").as("ac"))
    assert(saved.collect().map(_.toSeq).toSet == ann.collect().map(_.toSeq).toSet)
  }

  test("graphBeamSearch: high recall on a CLUSTERED corpus (navigable graph)") {
    // the testdata embeddings are near-random (no index can recall on
    // them — bucketed ANN sits at ~3%); real embedding corpora are
    // clustered, which is what makes neighborhood graphs navigable.
    // 16 well-separated clusters x 24 points: sign-bucket LSH aligns
    // with clusters, the mutual-kNN graph connects within clusters,
    // and a 3-round beam walk from each query must recover most of
    // its exact top-k.
    val rnd = new scala.util.Random(42)
    val centers = Array.fill(16)(Array.fill(64)(rnd.nextGaussian().toFloat))
    val pts = (0 until 384).map { i =>
      val c = centers(i % 16)
      (i.toLong, c.map(v => v + 0.05f * rnd.nextGaussian().toFloat).toSeq)
    }
    val df = pts.toDF("vec_id", "embedding")
    val base = graft.ops.Sink.scratchDir("beam_clustered")
    df.write.mode("overwrite").parquet(base + "/emb")
    val emb = spark.read.parquet(base + "/emb")
    val ix = base + "/ix"
    // 3 bucket bits: the kNN build's LSH edges never cross buckets, so
    // the bucket count trades candidate-set size against navigability —
    // at 384 points, 8 buckets keep each cluster bucket-coherent
    Similarity.writeKnnGraph(emb, 3, 8, ix)
    val q = emb.filter(col("vec_id") < 16) // one query per cluster
    val k = 5
    val exact = Similarity.cosineTopK(q, emb, k)
      .select(col("query_id"), col("vec_id"))
    val ann = Similarity.graphBeamSearch(q, ix, 3, 8, k)
      .select(col("query_id").as("aq"), col("vec_id").as("av"))
    val hits = exact.join(ann,
      col("query_id") === col("aq") && col("vec_id") === col("av"),
      "left_semi").count()
    val recall = hits.toDouble / exact.count()
    assert(recall >= 0.8, s"clustered recall@$k = $recall")
  }

  test("canonicalizeUrl: pinned normalizations; idempotent on the crawl fixture") {
    // hand-pinned semantics for every rule
    val probes = Seq(
      "HTTP://Example.COM:80/a/?b=2&utm_source=x#frag" -> "http://example.com/a?b=2",
      "https://Host.org:443/p" -> "https://host.org/p",
      "https://host.org:8080/p/" -> "https://host.org:8080/p",
      "http://h.com" -> "http://h.com/",
      "http://h.com/?z=1&a=2" -> "http://h.com/?a=2&z=1",
      "http://h.com/x?gclid=g&fbclid=f&ref=r&utm_campaign=c" -> "http://h.com/x",
      // :8080 must NOT lose its ":80" suffix to the default-port rule
      "http://h.com:8080/x" -> "http://h.com:8080/x")
    val got = probes.map(_._1).toDF("url")
      .select(TextOps.canonicalizeUrl(col("url")).as("c"))
      .as[String].collect().toSeq
    assert(got == probes.map(_._2), got.mkString("\n"))
    // idempotence over the full synthetic crawl fixture: a canonical
    // URL re-canonicalizes to itself (the law that makes the dedup
    // key stable under re-processing)
    val urls = (0L until 240L).toDF("doc_id")
      .select(TextOps.canonicalizeUrl(TextOps.urlWrap(col("doc_id"))).as("c1"))
      .select(col("c1"), TextOps.canonicalizeUrl(col("c1")).as("c2"))
      .as[(String, String)].collect()
    urls.foreach { case (c1, c2) => assert(c1 == c2, s"not idempotent: $c1 -> $c2") }
    // and the fixture exercises real merging: fewer canonical forms
    // than raw URLs
    val raw = (0L until 240L).toDF("doc_id")
      .select(TextOps.urlWrap(col("doc_id")).as("u")).distinct().count()
    val canon = urls.map(_._1).distinct.length
    assert(canon < raw, s"canonicalization must merge: $canon vs $raw")
  }

  test("extractLinks: absolute hrefs only, in page order; relative chrome ignored") {
    val page = """<a href="/">home</a> <a href="HTTPS://B.org/x">b</a>
      |<a href="/about">about</a> <a href="http://a.com/y?z=1">a</a>""".stripMargin
    val got = Seq(page).toDF("p")
      .select(TextOps.extractLinks(col("p")).as("l")).as[Seq[String]].collect().head
    assert(got == Seq("HTTPS://B.org/x", "http://a.com/y?z=1"))
  }

  test("pageRankWeighted: hand graph matches the closed-form rounds; weights matter") {
    // star with weighted spokes: a sends 3/4 of its mass to b, 1/4 to
    // c; b and c are sinks (no dangling redistribution — they keep
    // teleport + inflow). n = 3, one round from uniform 1/3:
    //   pr(a) = 0.15/3                      = 0.05
    //   pr(b) = 0.05 + 0.85 * (1/3 * 3/4)   = 0.2625
    //   pr(c) = 0.05 + 0.85 * (1/3 * 1/4)   = 0.120833…
    val nodes = Seq("a", "b", "c").toDF("host")
    val edges = Seq(("a", "b", 3L), ("a", "c", 1L)).toDF("s", "d", "w")
    val got = Dedup.pageRankWeighted(nodes, "host", edges, "s", "d", "w", 1)
      .as[(String, Double)].collect().toMap
    // 1e-9, not 1e-12: per-edge contributions quantize to
    // DECIMAL(28,10) before summing (the cross-engine exactness
    // trade), so the closed-form double drifts at the 1e-11 scale
    assert(math.abs(got("a") - 0.05) < 1e-9)
    assert(math.abs(got("b") - (0.05 + 0.85 * (1.0 / 3.0 / 4.0 * 3.0))) < 1e-9)
    assert(math.abs(got("c") - (0.05 + 0.85 * (1.0 / 3.0 / 4.0))) < 1e-9)
    assert(got("b") > got("c"), "the heavier spoke must rank higher")
  }
}
