package graft

import org.apache.spark.sql.functions._
import graft.functions.{Corpus, Multimodal, NearDup, Privacy, Retrieval, Similarity, TextAnalysis}

/** Training-data ops: text analysis, near-dup family, similarity search,
  * multimodal plumbing. The approximate paths (MinHash, SimHash, LSH-ANN)
  * are asserted against their exact counterparts on constructed corpora.
  */
class TrainingOpsSpec extends SparkSpec {
  import spark.implicits._

  test("tokens drop empties; token count") {
    val df = Seq(("a  b c", 3), ("", 0), ("  ", 0)).toDF("text", "expected")
    val bad = df.filter(TextAnalysis.tokenCount($"text") =!= $"expected")
    assert(bad.count() == 0)
  }

  test("BPE-ish pre-tokenizer splits word and punctuation runs") {
    val df = Seq(
      ("don't stop.", Seq("don", "'", "t", "stop", ".")),
      ("a  b", Seq("a", "b")),
      ("!!?", Seq("!!?")),
      ("", Seq.empty[String])).toDF("text", "expected")
    val bad = df.filter(TextAnalysis.tokensBpe($"text") =!= $"expected")
    assert(bad.isEmpty, bad.collect().mkString("; "))
    // the BPE count is never below the word count on punctuation-bearing text
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val cmp = docs.select(TextAnalysis.tokenCount($"text").as("w"),
        TextAnalysis.tokenCountBpe($"text").as("b"))
      .filter($"b" < $"w").count()
    assert(cmp === 0)
  }

  test("quality metrics: counts and stop ratio") {
    val r = Seq("the cat, and the dog!").toDF("text")
      .select(TextAnalysis.qualityMetrics($"text").toSeq.map { case (n, c) => c.as(n) }: _*)
      .head()
    assert(r.getAs[Int]("n_tokens") == 5)
    assert(r.getAs[Int]("n_punct") == 2)   // comma + bang
    assert(r.getAs[Int]("n_stopwords") == 3) // the, and, the
    assert(math.abs(r.getAs[Double]("stop_ratio") - 0.6) < 1e-9)
  }

  test("lang id: clear corpora classify; empty → other; tie → priority order") {
    val df = Seq(
      ("the cat is in the house and it is that", "en"),
      ("der hund und die katze ist nicht ein zu", "de"),
      ("el perro y la casa que es un por", "es"),
      ("le chien et les chats dans une pour sur", "fr"),
      ("zzz qqq www", "other"),
      ("the der", "en")) // 1-1 tie → en priority
      .toDF("text", "expected")
    val bad = df.filter(TextAnalysis.langId($"text") =!= $"expected")
    assert(bad.count() == 0)
  }

  test("fingerprint is whitespace/case canonical") {
    val fps = Seq("Hello  World", "hello world", "hello   world ")
      .toDF("text").select(TextAnalysis.fingerprint($"text")).as[String].collect()
    assert(fps.distinct.length == 1)
  }

  test("rolling hash is order-sensitive, fingerprint is not") {
    val df = Seq(("a b c"), ("c b a")).toDF("text")
    val rh = df.select(TextAnalysis.rollingHash($"text")).as[Long].collect()
    assert(rh(0) != rh(1))
  }

  test("shingles: sliding 3-grams; short docs → empty") {
    val sh = Seq("a b c d").toDF("text")
      .select(TextAnalysis.shingles(TextAnalysis.tokens($"text"), 3)).as[Seq[String]].head()
    assert(sh == Seq("a b c", "b c d"))
    val short = Seq("a b").toDF("text")
      .select(TextAnalysis.shingles(TextAnalysis.tokens($"text"), 3)).as[Seq[String]].head()
    assert(short.isEmpty)
  }

  test("exact dedup groups identical texts under min witness id") {
    val df = Seq((1L, "same text"), (2L, "same text"), (3L, "different")).toDF("doc_id", "text")
    val out = NearDup.exactDedup(df, "text", "doc_id").orderBy("doc_id").collect()
    assert(out.length == 2)
    assert(out(0).getAs[Long]("doc_id") == 1L && out(0).getAs[Long]("dup_count") == 2L)
  }

  // Synthetic near-dup corpus: 20 base docs of 40 tokens, each with a
  // mutated twin (2 tokens changed → Jaccard ≈ 0.85), plus unrelated noise.
  private def nearDupCorpus = {
    val rnd = new scala.util.Random(7)
    val vocab = (0 until 200).map(i => s"w$i")
    val docs = (0 until 20).flatMap { d =>
      val base = (0 until 40).map(_ => vocab(rnd.nextInt(vocab.size)))
      val twin = base.updated(5, "MUT1").updated(25, "MUT2")
      Seq((d.toLong * 2, base.mkString(" ")), (d.toLong * 2 + 1, twin.mkString(" ")))
    }
    docs.toDF("doc_id", "text")
  }

  test("minhash LSH finds the high-Jaccard twins that exact n-gram Jaccard finds") {
    val df = nearDupCorpus
    val exact = NearDup.ngramJaccardPairs(df, "text", "doc_id", n = 3, minJaccard = 0.5)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    val approx = NearDup.minhashNearDup(df, "text", "doc_id", n = 3, k = 32, bands = 8,
      minJaccard = 0.5).select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(exact.nonEmpty, "corpus should contain high-jaccard twins")
    // verification step makes approx ⊆ exact; banding should catch ≥ 90%
    assert(approx.subsetOf(exact))
    assert(approx.size >= (exact.size * 9) / 10, s"recall too low: ${approx.size}/${exact.size}")
  }

  test("simhash: twins within small hamming distance, unrelated docs far") {
    val df = nearDupCorpus
    val sigs = df.select($"doc_id", NearDup.simhash(TextAnalysis.tokens($"text")).as("sig"))
      .as[(Long, Long)].collect().toMap
    val twinDists = (0 until 20).map(d => java.lang.Long.bitCount(sigs(d * 2L) ^ sigs(d * 2L + 1)))
    val unrelDists = (0 until 19).map(d => java.lang.Long.bitCount(sigs(d * 2L) ^ sigs(d * 2L + 2)))
    assert(twinDists.sum.toDouble / twinDists.size < unrelDists.sum.toDouble / unrelDists.size,
      s"twins $twinDists should be closer than unrelated $unrelDists")
  }

  test("portable md5 signatures match an independent re-derivation") {
    // the q25/q28 canonical forms must be recomputable WITHOUT Spark —
    // re-derive both here from java.security MessageDigest directly
    def md5hex(s: String): String =
      java.security.MessageDigest.getInstance("MD5")
        .digest(s.getBytes("UTF-8")).map(b => f"$b%02x").mkString
    def toks(text: String): Seq[String] = text.split(" ").filter(_.nonEmpty).toSeq
    def refSimhash(text: String): Long = {
      val counts = new Array[Int](60)
      toks(text).foreach { t =>
        val h = java.lang.Long.parseLong(md5hex(t).take(15), 16)
        (0 until 60).foreach(b => counts(b) += (if (((h >> b) & 1L) == 1L) 1 else -1))
      }
      (0 until 60).filter(counts(_) > 0).map(1L << _).sum
    }
    def refRolling(text: String): Long =
      toks(text).foldLeft(0L)((acc, t) =>
        (acc * 1000003L + java.lang.Long.parseLong(md5hex(t).take(12), 16) % 2147483647L)
          % 2147483647L)
    val samples = Seq("hello world hello spark", "", "a b c d e f g",
      "the quick brown fox", "répétition unicode ünïcødé")
    val df = samples.zipWithIndex.map { case (s, i) => (i.toLong, s) }.toDF("id", "text")
    val got = df.select($"id",
        graft.plans.GraftFunctions.simhashMd5(df, TextAnalysis.tokens($"text")).as("sh"),
        TextAnalysis.rollingHashPortable($"text").as("rh"))
      .as[(Long, Long, Long)].collect().map { case (i, sh, rh) => i -> ((sh, rh)) }.toMap
    samples.zipWithIndex.foreach { case (s, i) =>
      assert(got(i.toLong) === ((refSimhash(s), refRolling(s))), s"sample '$s'")
    }
  }

  test("native SimHash64/MinHashSig expressions ≡ composable HOF forms") {
    val df = nearDupCorpus
    val toks = TextAnalysis.tokens($"text")
    val sh = array_distinct(TextAnalysis.shingles(toks, 3))
    val cmp = df.select(
      NearDup.simhash(toks).as("sim_hof"),
      graft.plans.GraftFunctions.simhash64(df, toks).as("sim_native"),
      NearDup.minhashSignature(sh, k = 16, seed = 7L).as("mh_hof"),
      graft.plans.GraftFunctions.minhashSig(df, sh, k = 16, seed = 7L).as("mh_native"))
    assert(cmp.filter($"sim_hof" =!= $"sim_native").count() == 0)
    assert(cmp.filter(to_json($"mh_hof") =!= to_json($"mh_native")).count() == 0)
  }

  test("native WordShingles ≡ array_distinct(shingles(tokens)) incl. edge cases") {
    val edge = Seq("", "one", "a b", "a b c", "a  b   c d", // short / multi-space
      "x y x y x y x y", "a b c a b c a b c")               // heavy duplicates
    val docs = (nearDupCorpus.select($"text").as[String].collect().toSeq ++ edge)
      .toDF("text")
    for (n <- Seq(2, 3)) {
      val cmp = docs.select(
        array_distinct(TextAnalysis.shingles(TextAnalysis.tokens($"text"), n)).as("hof"),
        graft.plans.GraftFunctions.wordShingles(docs, $"text", n).as("native"))
      assert(cmp.filter(to_json($"hof") =!= to_json($"native")).count() == 0,
        s"n=$n mismatch")
    }
    // non-distinct keeps duplicates in stream order
    val dup = Seq("a b a b a b").toDF("text").select(
      graft.plans.GraftFunctions.wordShingles(Seq("x").toDF("t"), $"text", 2,
        distinct = false).as("s"))
    assert(dup.as[Seq[String]].head() === Seq("a b", "b a", "a b", "b a", "a b"))
  }

  test("native CosineSim/HyperplaneBuckets ≡ composable forms (bit-identical)") {
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
      .select($"vec_id", $"embedding".cast("array<double>").as("v"))
    val shifted = emb.withColumn("w", reverse($"v"))
    val cmp = shifted.select(
      Similarity.cosine($"v", $"w").as("cos_hof"),
      graft.plans.GraftFunctions.cosine(shifted, $"v", $"w").as("cos_native"),
      to_json(transform(Similarity.lshBuckets($"v", 64, 4, 6, 42L), b => b.getField("bucket")))
        .as("bk_hof"),
      to_json(graft.plans.GraftFunctions.hyperplaneBuckets(shifted, $"v", 64, 4, 6, 42L))
        .as("bk_native"))
    assert(cmp.filter($"cos_hof" =!= $"cos_native").count() == 0) // same fold order → same bits
    assert(cmp.filter($"bk_hof" =!= $"bk_native").count() == 0)
  }

  test("brute-force cosine top-k on a hand-checkable corpus") {
    val df = Seq(
      (0L, Array(1.0f, 0.0f)),
      (1L, Array(0.9f, 0.1f)),
      (2L, Array(0.0f, 1.0f)),
      (3L, Array(-1.0f, 0.0f))).toDF("vec_id", "embedding")
    val out = Similarity.bruteForceTopK(df.filter($"vec_id" === 0), df, k = 2)
      .orderBy("rank").select("neighbor_id").as[Long].collect().toSeq
    assert(out == Seq(1L, 2L)) // closest then orthogonal; opposite excluded by k
  }

  test("LSH ANN recall vs exact top-k on real embeddings (sf0.001)") {
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val queries = emb.filter($"vec_id" < 5)
    val exact = Similarity.bruteForceTopK(queries, emb, k = 5)
      .select("query_id", "neighbor_id").as[(Long, Long)].collect().toSet
    val approx = Similarity.lshTopK(queries, emb, k = 5, dim = 64, tables = 16, bits = 4)
      .select("query_id", "neighbor_id").as[(Long, Long)].collect().toSet
    val recall = (exact intersect approx).size.toDouble / exact.size
    info(s"measured LSH recall: $recall")
    // measured 0.96 at the pinned (tables=16, bits=4, seed fixed) — the
    // floor sits just below so a real regression (parameter drift, bucket
    // bug) fails while leaving no room for a silent 30-point slide
    assert(recall >= 0.9, s"LSH recall $recall below the pinned 0.96 band")
  }

  test("IVF ANN recall vs exact top-k on real embeddings (sf0.001)") {
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val queries = emb.filter($"vec_id" < 5)
    val exact = Similarity.bruteForceTopK(queries, emb, k = 5)
      .select("query_id", "neighbor_id").as[(Long, Long)].collect().toSet
    val approx = Similarity.ivfTopK(queries, emb, k = 5, nlist = 8, nprobe = 4)
      .select("query_id", "neighbor_id").as[(Long, Long)].collect().toSet
    val recall = (exact intersect approx).size.toDouble / exact.size
    info(s"measured IVF recall: $recall")
    // measured 0.68 at (nlist=8, nprobe=4, seeded k-means): genuinely
    // partial — cosine neighbors scatter across cells on this
    // weak-similarity corpus — but deterministic, so pin just below
    assert(recall >= 0.65, s"IVF recall $recall below the pinned 0.68 band")
  }

  test("q32/q42 fence floors sit under the measured recall band (sf0.001)") {
    // the driver queries emit EXACT top-k rows gated in-plan on ANN
    // recall (SparkEntry.annFenced): q32 floors at 0.55, q42 at 0.45.
    // Measured at the queries' own configs (nlist=64, nprobe=16;
    // m=8/ksub=32/rerank=8): 0.75/0.725/0.675 (IVF) and
    // 0.675/0.675/0.55 (IVF-PQ) across sf0.001/0.01/0.1 — this test
    // re-derives the sf0.001 point and asserts it clears each floor
    // with margin, so a drift toward the fence fails HERE before it
    // empties the driver query
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val queries = emb.filter($"vec_id" < 8)
    val exact = Similarity.bruteForceTopK(queries, emb, k = 5)
      .select("query_id", "neighbor_id").as[(Long, Long)].collect().toSet
    val ivf = Similarity.ivfTopK(queries, emb, k = 5, nlist = 64, nprobe = 16)
      .select("query_id", "neighbor_id").as[(Long, Long)].collect().toSet
    val pq = Similarity.ivfpqTopK(queries, emb, k = 5, nlist = 64,
        nprobe = 16, m = 8, ksub = 32, rerankFactor = 8)
      .select("query_id", "neighbor_id").as[(Long, Long)].collect().toSet
    val rIvf = (exact intersect ivf).size.toDouble / exact.size
    val rPq = (exact intersect pq).size.toDouble / exact.size
    info(s"q32-config IVF recall: $rIvf; q42-config IVF-PQ recall: $rPq")
    assert(rIvf >= 0.65, s"IVF recall $rIvf within one step of the 0.55 fence")
    assert(rPq >= 0.55, s"IVF-PQ recall $rPq within one step of the 0.45 fence")
  }

  test("IVF-PQ ANN recall vs exact top-k on real embeddings (sf0.001)") {
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val queries = emb.filter($"vec_id" < 5)
    val exact = Similarity.bruteForceTopK(queries, emb, k = 5)
      .select("query_id", "neighbor_id").as[(Long, Long)].collect().toSet
    val approx = Similarity.ivfpqTopK(queries, emb, k = 5, nlist = 8, nprobe = 4,
      m = 8, ksub = 32, rerankFactor = 10)
    // re-ranked sims are exact cosine: every reported sim must match the
    // brute-force value for that pair (the PQ approximation only gates
    // candidate selection, never the reported score)
    val exactSims = Similarity.bruteForceTopK(queries, emb, k = 2000)
      .select("query_id", "neighbor_id", "sim")
      .as[(Long, Long, Double)].collect()
      .map { case (q, n, s) => (q, n) -> s }.toMap
    approx.select("query_id", "neighbor_id", "sim").as[(Long, Long, Double)]
      .collect().foreach { case (q, n, s) =>
        assert(exactSims.get((q, n)).contains(s), s"sim mismatch for ($q,$n)")
      }
    val approxPairs = approx.select("query_id", "neighbor_id")
      .as[(Long, Long)].collect().toSet
    val recall = (exact intersect approxPairs).size.toDouble / exact.size
    info(s"measured IVF-PQ recall: $recall")
    // measured 0.64 at (nlist=8, nprobe=4, m=8, rerank=10), deterministic
    assert(recall >= 0.6, s"IVF-PQ recall $recall below the pinned 0.64 band")
    // int id columns stay supported through the ADC heap stage (the family
    // contract: byte/short/int ids work everywhere long ids do)
    val embInt = emb.withColumn("vec_id", $"vec_id".cast("int"))
    val approxInt = Similarity.ivfpqTopK(embInt.filter($"vec_id" < 5), embInt,
      k = 5, nlist = 8, nprobe = 4, m = 8, ksub = 32, rerankFactor = 10)
      .select("query_id", "neighbor_id").as[(Long, Long)].collect().toSet
    assert(approxInt === approxPairs, "int ids must reproduce the long-id result")
  }

  test("multimodal batched decode: mapPartitions batches, deterministic, full coverage") {
    val df = (1L to 200L).map(i => (i, s"payload-$i" * 10)).toDF("media_id", "txt")
      .withColumn("content", $"txt".cast("binary")).drop("txt")
    val out = Multimodal.decodeBatched(df, batchSize = 16)
    assert(out.count() == 200)
    assert(out.columns.toSeq == Seq("media_id", "n_bytes", "features"))
    val r = out.filter($"media_id" === 7L).head()
    assert(r.getAs[Int]("n_bytes") == "payload-7".length * 10)
    assert(out.filter($"media_id" === 7L).head().getAs[collection.Seq[Double]]("features") ==
      r.getAs[collection.Seq[Double]]("features")) // deterministic
  }

  test("multimodal: featurize schema + deterministic stub features + frame sampling") {
    val df = Seq((1L, "image", "0123456789abcdef" * 64)).toDF("media_id", "media_type", "txt")
      .withColumn("content", $"txt".cast("binary")).drop("txt")
    val feat = Multimodal.featurize(df)
    assert(Seq("n_bytes", "content_hash", "header_hex", "features").forall(feat.columns.contains))
    val r = feat.head()
    assert(r.getAs[Int]("n_bytes") == 1024)
    assert(r.getAs[String]("header_hex") == "3031323334353637") // "01234567"
    assert(r.getAs[collection.Seq[Double]]("features").length == 8)
    // deterministic: second evaluation identical
    assert(feat.head().getAs[collection.Seq[Double]]("features") ==
      r.getAs[collection.Seq[Double]]("features"))
    val frames = df.select(Multimodal.frameSample($"content", frameBytes = 100, stride = 2,
      maxFrames = 10).as("f")).head().getAs[collection.Seq[Array[Byte]]]("f")
    assert(frames.length == 6) // 1024 bytes / 200-byte stride → 6 non-empty chunks
    assert(frames.head.length == 100)
  }

  test("multimodal: REAL png decode via the JDK codec — dims, channel means, grid") {
    // 8x4 image, left half black, right half white: means 0.5, grid cells
    // split 0/1 by column — hand-checkable through a genuine PNG round-trip
    val img = new java.awt.image.BufferedImage(8, 4,
      java.awt.image.BufferedImage.TYPE_INT_RGB)
    for (y <- 0 until 4; x <- 0 until 8)
      img.setRGB(x, y, if (x < 4) 0x000000 else 0xFFFFFF)
    val bos = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(img, "png", bos)
    val df = Seq((1L, bos.toByteArray), (2L, "not an image".getBytes),
      (3L, Array.empty[Byte])).toDF("media_id", "content")
    val out = Multimodal.decodeImagesBatched(df).collect()
      .map(r => r.getLong(0) -> r).toMap
    val ok = out(1L)
    assert(ok.getBoolean(1) && ok.getInt(2) === 8 && ok.getInt(3) === 4)
    assert(ok.getDouble(4) === 0.5 && ok.getDouble(5) === 0.5 && ok.getDouble(6) === 0.5)
    val grid = ok.getAs[collection.Seq[Double]](7)
    assert(grid.toSeq === Seq(0.0, 0.0, 1.0, 1.0, 0.0, 0.0, 1.0, 1.0))
    assert(!out(2L).getBoolean(1) && !out(3L).getBoolean(1), "corrupt payloads must not fail the task")
    // decompression-bomb guard: header dims above the cap → ok=false
    // without any pixel allocation
    val capped = Multimodal.decodeImagesBatched(
      df.filter($"media_id" === 1L), maxPixels = 16L).head()
    assert(!capped.getBoolean(1), "32-pixel image must fail a 16-pixel cap")
  }

  test("multimodal: REAL wav decode via the JDK codec — rate, duration, rms, peak") {
    // 800 samples of constant +0.5 amplitude 16-bit PCM at 8 kHz → rms =
    // peak = 0.5 exactly, duration 100 ms — through a genuine WAV container
    val pcm = new Array[Byte](1600)
    var i = 0
    while (i < 800) { pcm(2 * i) = 0x00; pcm(2 * i + 1) = 0x40; i += 1 } // 0x4000 = +16384
    val fmt = new javax.sound.sampled.AudioFormat(8000f, 16, 1, true, false)
    val ais = new javax.sound.sampled.AudioInputStream(
      new java.io.ByteArrayInputStream(pcm), fmt, 800)
    val wav = new java.io.ByteArrayOutputStream()
    javax.sound.sampled.AudioSystem.write(ais,
      javax.sound.sampled.AudioFileFormat.Type.WAVE, wav)
    val df = Seq((1L, wav.toByteArray), (2L, "not audio".getBytes))
      .toDF("media_id", "content")
    val out = Multimodal.decodeWavBatched(df).collect()
      .map(r => r.getLong(0) -> r).toMap
    val ok = out(1L)
    assert(ok.getBoolean(1) && ok.getInt(2) === 8000)
    assert(ok.getLong(3) === 800L && ok.getLong(4) === 100L)
    assert(ok.getDouble(5) === 0.5 && ok.getDouble(6) === 0.5)
    assert(!out(2L).getBoolean(1))
    // µ-law parses as 8-bit audio but is log-companded, not linear PCM —
    // decoding it as PCM would report silence as ~0.99 amplitude
    val ulawFmt = new javax.sound.sampled.AudioFormat(
      javax.sound.sampled.AudioFormat.Encoding.ULAW, 8000f, 8, 1, 1, 8000f, false)
    val silence = Array.fill[Byte](800)(0xFF.toByte) // µ-law zero amplitude
    val uais = new javax.sound.sampled.AudioInputStream(
      new java.io.ByteArrayInputStream(silence), ulawFmt, 800)
    val uwav = new java.io.ByteArrayOutputStream()
    javax.sound.sampled.AudioSystem.write(uais,
      javax.sound.sampled.AudioFileFormat.Type.WAVE, uwav)
    val ulaw = Multimodal.decodeWavBatched(
      Seq((3L, uwav.toByteArray)).toDF("media_id", "content")).head()
    assert(!ulaw.getBoolean(1), "companded encoding must not decode as linear PCM")
  }

  test("quality-aware canonical corpus: each cluster keeps its best scorer, ties to min id") {
    val docs = Seq(
      (1L, "short", 5L), (2L, "longest variant", 9L), (3L, "mid", 7L), // cluster A → keep 2
      (4L, "tie a", 6L), (5L, "tie b", 6L),                            // cluster B tie → keep 4
      (9L, "singleton", 1L)).toDF("doc_id", "text", "score")
    val clusters = Seq((1L, 1L), (2L, 1L), (3L, 1L), (4L, 4L), (5L, 4L))
      .toDF("node", "component")
    val kept = NearDup.canonicalCorpusByScore(docs, clusters, "doc_id", $"score")
      .select($"doc_id").as[Long].collect().toSet
    assert(kept === Set(2L, 4L, 9L), s"got $kept")
    // string ids: ties break by the ID COLUMN'S OWN ordering ('10' < '9'
    // lexicographically) — no numeric cast of the id is ever attempted
    val sdocs = Seq(("10", 6L), ("9", 6L)).toDF("doc_id", "score")
    val sclusters = Seq(("10", "10"), ("9", "10")).toDF("node", "component")
    val skept = NearDup.canonicalCorpusByScore(sdocs, sclusters, "doc_id", $"score")
      .select($"doc_id").as[String].collect().toSet
    assert(skept === Set("10"), s"got $skept")
  }

  test("multimodal end-to-end: decoded image grids feed cosine near-dup") {
    // the composition the decode features exist for: perceptual near-dup
    // over images — two visually identical frames (one pixel differs) pair
    // up, an inverted frame does not
    def png(invert: Boolean, tweak: Boolean): Array[Byte] = {
      val img = new java.awt.image.BufferedImage(8, 8,
        java.awt.image.BufferedImage.TYPE_INT_RGB)
      for (y <- 0 until 8; x <- 0 until 8) {
        val base = if ((x < 4) ^ invert) 0x202020 else 0xE0E0E0
        img.setRGB(x, y, base)
      }
      if (tweak) img.setRGB(7, 7, 0xD0D0D0) // one-pixel difference
      val bos = new java.io.ByteArrayOutputStream()
      javax.imageio.ImageIO.write(img, "png", bos)
      bos.toByteArray
    }
    val media = Seq((1L, png(invert = false, tweak = false)),
      (2L, png(invert = false, tweak = true)),
      (3L, png(invert = true, tweak = false))).toDF("media_id", "content")
    val feats = Multimodal.decodeImagesBatched(media)
      .select($"media_id".as("vec_id"),
        $"grid".cast("array<float>").as("embedding"))
    val pairs = Similarity.cosineNearDupPairs(feats, minCosine = 0.99, dim = 8)
      .select($"id_a", $"id_b").as[(Long, Long)].collect().toSet
    assert(pairs === Set((1L, 2L)), s"got $pairs")
  }

  test("cosine near-dup pairs: exact threshold pairs on a hand-checkable corpus") {
    val df = Seq(
      (0L, Array(1.0f, 0.0f)),
      (1L, Array(0.99f, 0.14f)),  // cos(0,1) ≈ 0.990
      (2L, Array(0.0f, 1.0f)),    // orthogonal to 0
      (3L, Array(0.1f, 0.995f)))  // cos(2,3) ≈ 0.995
      .toDF("vec_id", "embedding")
    val pairs = Similarity.cosineNearDupPairsExact(df, minCosine = 0.9)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(pairs == Set((0L, 1L), (2L, 3L)))
  }

  test("cosine near-dup on real embeddings matches a driver-collected brute force") {
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val got = Similarity.cosineNearDupPairsExact(emb, minCosine = 0.4)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    // Seq, not Map: a for-comprehension over a Map yields a Map and silently
    // collapses multiple (id_a, *) pairs to the last one
    val vecs = emb.select($"vec_id", $"embedding".cast("array<double>"))
      .as[(Long, Seq[Double])].collect().toSeq
    def cos(a: Seq[Double], b: Seq[Double]): Double = {
      val d = a.zip(b).map { case (x, y) => x * y }.sum
      d / (math.sqrt(a.map(x => x * x).sum) * math.sqrt(b.map(x => x * x).sum))
    }
    val want = (for {
      (i, vi) <- vecs; (j, vj) <- vecs if i < j
      // compare in DOUBLE space like the engine: rounded-to-6dp value as the
      // nearest double, against the double literal 0.4 (BigDecimal(0.4)
      // would be the inexact 0.4000000000000000222… and drop boundary pairs)
      if BigDecimal(cos(vi, vj)).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble >= 0.4
    } yield (i, j)).toSet
    assert(got == want, s"got ${got.size} pairs, want ${want.size}")
  }

  test("LSH cosine near-dup reproduces the exact form at every gate scale") {
    // 100% recall at the pinned (tables=48, bits=4) on every testdata scale
    // — this is what licenses q50's exact-SQL oracle; precision is exact by
    // construction (candidates are verified with the exact cosine)
    for (dir <- Seq("/root/testdata/sf0.001", "/root/testdata/sf0.01",
                    "/root/testdata/sf0.1")) {
      val exact = Similarity.cosineNearDupPairsExact(
          spark.read.parquet(s"$dir/embeddings.parquet"), minCosine = 0.4)
        .select($"id_a", $"id_b", $"sim").as[(Long, Long, Double)].collect().toSet
      val lsh = SparkEntry.queries("q50_cosine_neardup_lsh")(spark, dir)
        .select($"id_a", $"id_b", $"sim").as[(Long, Long, Double)].collect().toSet
      val missing = exact -- lsh
      val phantom = lsh -- exact
      assert(missing.isEmpty && phantom.isEmpty,
        s"$dir: ${lsh.size} lsh vs ${exact.size} exact; " +
          s"missing=${missing.take(5)} phantom=${phantom.take(5)}")
    }
  }

  test("blocked exact cosine pairs equal the exact form; auto strategy routes") {
    val emb = spark.read.parquet("/root/testdata/sf0.01/embeddings.parquet")
    val exact = Similarity.cosineNearDupPairsExact(emb, minCosine = 0.4)
      .select($"id_a", $"id_b", $"sim").as[(Long, Long, Double)].collect().toSet
    // the blocked join meets each unordered pair exactly once — equal
    // SETS and equal SIZES (a double-met pair would survive a set compare)
    val blocked = Similarity.cosineNearDupPairsBlocked(emb, minCosine = 0.4,
        targetBlockRows = 37) // force many blocks incl. a ragged last one
      .select($"id_a", $"id_b", $"sim").as[(Long, Long, Double)].collect()
    assert(blocked.length === blocked.toSet.size, "pair met twice")
    assert(blocked.toSet === exact,
      s"${blocked.length} blocked vs ${exact.size} exact")
    // auto routing: at (bits=4, tables=48) the random-collision math says
    // LSH cannot filter → the blocked plan (no _tb bucket key) runs; an
    // explicit strategy="lsh" pins the bucket join
    val auto = Similarity.cosineNearDupPairsLsh(emb, minCosine = 0.4, dim = 64)
    assert(!auto.queryExecution.optimizedPlan.toString.contains("_tb"),
      "degenerate-LSH parameters must route to the blocked exact join")
    val lsh = Similarity.cosineNearDupPairsLsh(emb, minCosine = 0.4, dim = 64,
      strategy = "lsh")
    assert(lsh.queryExecution.optimizedPlan.toString.contains("_tb"),
      "strategy=lsh must pin the bucket join")
    // and high-threshold parameters keep the LSH path under auto
    val hi = Similarity.cosineNearDupPairsLsh(emb, minCosine = 0.9, dim = 64,
      tables = 48, bits = 16)
    assert(hi.queryExecution.optimizedPlan.toString.contains("_tb"),
      "filtering parameters (16 bits) must keep LSH under auto")
    // the auto-selected blocked result matches exact too (recall 1)
    assert(auto.select($"id_a", $"id_b", $"sim")
      .as[(Long, Long, Double)].collect().toSet === exact)
  }

  test("cosine near-dup delegation: LSH by default, broadcast only when provably tiny") {
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    // default (maxBroadcastBytes = 0): always the scale path — no corpus
    // broadcast into a nested loop, ever
    val scalePlan = Similarity.cosineNearDupPairs(emb, minCosine = 0.4, dim = 64)
      .queryExecution.executedPlan.toString
    assert(!scalePlan.contains("BroadcastNestedLoopJoin"), scalePlan.take(600))
    // explicit opt-in on a parquet corpus with known stats under the cap:
    // the exact broadcast form is allowed to run
    val exactPlan = Similarity.cosineNearDupPairs(emb, minCosine = 0.4, dim = 64,
        maxBroadcastBytes = 1L << 30)
      .queryExecution.executedPlan.toString
    assert(exactPlan.contains("BroadcastNestedLoopJoin"), exactPlan.take(600))
    // a stats-less input (LogicalRDD — the foreachBatch shape) must take the
    // scale path even under a generous cap: "unknown size" is not "tiny"
    val rdd = spark.sparkContext.parallelize(
      (0L until 20L).map(i => (i, Array.fill(64)(i.toFloat / 64))), numSlices = 1)
    val dynamic = spark.createDataFrame(rdd).toDF("vec_id", "embedding")
    val dynPlan = Similarity.cosineNearDupPairs(dynamic, minCosine = 0.4, dim = 64,
        maxBroadcastBytes = 1L << 30)
      .queryExecution.executedPlan.toString
    assert(!dynPlan.contains("BroadcastNestedLoopJoin"), dynPlan.take(600))
    // both routes agree with each other on the gate corpus
    val viaLsh = Similarity.cosineNearDupPairs(emb, minCosine = 0.4, dim = 64)
      .select($"id_a", $"id_b").as[(Long, Long)].collect().toSet
    val viaExact = Similarity.cosineNearDupPairs(emb, minCosine = 0.4, dim = 64,
        maxBroadcastBytes = 1L << 30)
      .select($"id_a", $"id_b").as[(Long, Long)].collect().toSet
    assert(viaLsh === viaExact)
  }

  test("repetition metrics: hand-checked line and 2-gram shares") {
    val df = Seq(
      // "a b a b c": 2-grams a-b ×2, b-a, b-c; 9 chars → top 2*3/9, dup 1*3/9
      (1L, "a b a b c"),
      // repeated lines: 4 non-empty lines, "x" twice → dup_line_frac 0.25
      (2L, "x\ny\nx\n\nz"),
      // degenerate: empty text and a 1-token text → all zeros
      (3L, ""),
      (4L, "solo"))
      .toDF("doc_id", "text")
    val m = TextAnalysis.repetitionMetrics(df, $"text", n = 2)
    val got = df.select($"doc_id", m("n_lines"), m("dup_line_frac"),
        m("top_2gram_share"), m("dup_2gram_frac"))
      .as[(Long, Long, Double, Double, Double)].collect().map(r => r._1 -> r).toMap
    assert(got(1L) == (1L, 1L, 0.0, math.rint(2 * 3.0 / 9 * 1e4) / 1e4,
      math.rint(3.0 / 9 * 1e4) / 1e4))
    // doc 2 has no spaces, so the whole text is ONE whitespace token → no
    // 2-grams; the line metrics are what carry its signal
    assert(got(2L) == (2L, 4L, 0.25, 0.0, 0.0))
    assert(got(3L) == (3L, 0L, 0.0, 0.0, 0.0))
    assert(got(4L) == (4L, 1L, 0.0, 0.0, 0.0))
  }

  test("repetition metrics match a driver-side recount on real documents") {
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val m = TextAnalysis.repetitionMetrics(docs, $"text", n = 2)
    val got = docs.select($"doc_id", m("top_2gram_share"), m("dup_2gram_frac"))
      .as[(Long, Double, Double)].collect().map(r => r._1 -> (r._2, r._3)).toMap
    val texts = docs.select($"doc_id", $"text").as[(Long, String)].collect()
    for ((id, text) <- texts) {
      val toks = text.split(" ").filter(_.nonEmpty)
      val grams = toks.sliding(2).filter(_.length == 2).map(_.mkString(" ")).toSeq
      val counts = grams.groupBy(identity).view.mapValues(_.size)
      val top = if (counts.isEmpty || text.isEmpty) 0.0
        else counts.map { case (g, c) => c.toLong * g.length }.max.toDouble / text.length
      val dup = if (counts.isEmpty || text.isEmpty) 0.0
        else counts.collect { case (g, c) if c > 1 => (c - 1).toLong * g.length }
          .sum.toDouble / text.length
      def r4(x: Double): Double =
        BigDecimal(x).setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble
      assert(got(id) == (r4(top), r4(dup)), s"doc $id")
    }
  }

  test("top-k typed aggregate equals the window form on real events") {
    val ev = spark.read.parquet("/root/testdata/sf0.001/events.parquet")
      .select($"event_type", $"value", $"event_id")
    for (k <- Seq(1, 3, 10)) {
      val agg = ev.groupBy($"event_type")
        .agg(graft.plans.GraftFunctions.topkPairs(ev, $"value", $"event_id", k).as("top"))
        .select($"event_type", explode($"top").as("p"))
        .select($"event_type", $"p.ord".as("value"), $"p.id".as("event_id"))
        .as[(String, Double, Long)].collect().toSet
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy($"event_type").orderBy($"value".desc, $"event_id".desc)
      val win = ev.filter($"value".isNotNull)
        .withColumn("_r", row_number().over(w)).filter($"_r" <= k)
        .select($"event_type", $"value", $"event_id")
        .as[(String, Double, Long)].collect().toSet
      assert(agg == win, s"k=$k: agg ${agg.size} vs window ${win.size}")
    }
    // tiny group (< k rows) returns all of it, ordered
    val tiny = Seq(("a", 1.0, 1L), ("a", 2.0, 2L)).toDF("g", "v", "id")
    val got = tiny.groupBy($"g")
      .agg(graft.plans.GraftFunctions.topkPairs(tiny, $"v", $"id", 5).as("top"))
      .select(explode($"top").as("p")).select($"p.ord").as[Double].collect().toSeq
    assert(got == Seq(2.0, 1.0))
    // ties on ord break by id — deterministic total order
    val ties = Seq(("a", 1.0, 1L), ("a", 1.0, 3L), ("a", 1.0, 2L)).toDF("g", "v", "id")
    val top2 = ties.groupBy($"g")
      .agg(graft.plans.GraftFunctions.topkPairs(ties, $"v", $"id", 2).as("top"))
      .select(explode($"top").as("p")).select($"p.id").as[Long].collect().toSeq
    assert(top2 == Seq(3L, 2L))
  }

  test("hot-key pruning never deflates a surfaced pair's jaccard value") {
    // 12 filler docs make the shingle "the common stop phrase" hot (cap 10);
    // the twin pair shares it AND a private shingle, so the pair still
    // surfaces through the private key — its jaccard must be the FULL-set
    // value, not one computed from pruned posting lists
    val filler = (100L to 111L).map(i => (i, s"the common stop phrase filler$i"))
    val twins = Seq(
      (1L, "the common stop phrase unique twin tail"),
      (2L, "the common stop phrase unique twin tail extra"))
    val docs = (filler ++ twins).toDF("doc_id", "text")
    val pruned = NearDup.ngramJaccardPairs(docs, "text", "doc_id",
        n = 3, minJaccard = 0.1, maxBucket = 10)
      .filter($"id_a" === 1L && $"id_b" === 2L)
      .select($"common", $"jaccard").as[(Long, Double)].collect()
    val full = NearDup.ngramJaccardPairs(docs, "text", "doc_id",
        n = 3, minJaccard = 0.1, maxBucket = Int.MaxValue)
      .filter($"id_a" === 1L && $"id_b" === 2L)
      .select($"common", $"jaccard").as[(Long, Double)].collect()
    assert(pruned.nonEmpty && full.nonEmpty)
    assert(pruned.head == full.head,
      s"pruned ${pruned.head} vs full ${full.head}")
  }

  test("top-k heap orders NaN like the window sort and never wedges on it") {
    // a NaN ord (zero-vector cosine) must rank GREATEST — Spark's window
    // order for NaN — and must stay evictable, not squat in an under-full
    // heap blocking later finite scores
    val df = Seq(("g", Double.NaN, 1L), ("g", 5.0, 2L), ("g", 7.0, 3L),
      ("g", Double.NaN, 4L), ("g", 6.0, 5L)).toDF("g", "v", "id")
    val top3 = df.groupBy($"g")
      .agg(graft.plans.GraftFunctions.topkPairs(df, $"v", $"id", 3).as("t"))
      .select(explode($"t").as("p")).select($"p.id").as[Long].collect().toSeq
    assert(top3 == Seq(4L, 1L, 3L), s"got $top3") // NaN ids 4,1 first, then 7.0's id 3
  }

  test("cosine native expression nulls out on null elements like the HOF form") {
    val df = Seq(1).toDF("x").select(
      array(lit(1.0), lit(null).cast("double"), lit(2.0)).as("a"),
      array(lit(1.0), lit(1.0), lit(2.0)).as("b"))
    val hof = df.select(Similarity.cosine($"a", $"b").as("c")).head()
    val native = df.select(graft.plans.GraftFunctions.cosine(df, $"a", $"b").as("c")).head()
    assert(hof.isNullAt(0) && native.isNullAt(0))
  }

  test("PQ encode/lut clamp ragged vectors instead of reading out of bounds") {
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    // one 32-dim row in a corpus whose quantizer trains at 64 dims
    val ragged = emb.limit(20)
      .withColumn("embedding",
        when($"vec_id" === 3L, slice($"embedding", 1, 32)).otherwise($"embedding"))
    val out = Similarity.ivfpqTopK(ragged.filter($"vec_id" < 2), ragged, k = 3,
      nlist = 4, nprobe = 4, m = 8, ksub = 8, rerankFactor = 3)
    assert(out.count() > 0) // no ArrayIndexOutOfBounds from the short row
  }

  test("stratified sample: quota per stratum, repartition-stable, subset") {
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val sample = Corpus.stratifiedSample(docs, Seq("lang", "source"), "doc_id",
      k = 5, salt = "42")
    // quota respected; small strata keep everything they have
    val perStratum = sample.groupBy($"lang", $"source").count()
      .as[(String, String, Long)].collect()
    assert(perStratum.forall(_._3 <= 5))
    val have = docs.groupBy($"lang", $"source").count()
      .as[(String, String, Long)].collect().map(r => (r._1, r._2) -> r._3).toMap
    perStratum.foreach { case (l, s, n) => assert(n == math.min(5L, have((l, s)))) }
    // deterministic under repartitioning: the draw depends only on ids
    val reshuffled = Corpus.stratifiedSample(docs.repartition(13),
      Seq("lang", "source"), "doc_id", k = 5, salt = "42")
    assert(sample.select("doc_id").as[Long].collect().toSet ==
      reshuffled.select("doc_id").as[Long].collect().toSet)
    // a different salt draws a different sample (it is a hash draw, not a
    // head-of-table draw)
    val other = Corpus.stratifiedSample(docs, Seq("lang", "source"), "doc_id",
      k = 5, salt = "other")
    assert(sample.select("doc_id").as[Long].collect().toSet !=
      other.select("doc_id").as[Long].collect().toSet)
  }

  test("mixture weights: shares sum to 1, weight x share = uniform target") {
    val docs = Seq(
      ("en", "one two three four"),    // 4 tokens
      ("en", "five six"),              // 2
      ("de", "eins zwei"),             // 2
      ("fr", "un deux trois four five six seven eight")) // 8
      .toDF("lang", "text")
    val w = Corpus.mixtureWeights(docs, Seq("lang"),
        TextAnalysis.tokenCount($"text"))
      .as[(String, Long, Long, Double, Double)].collect()
      .map(r => r._1 -> r).toMap
    assert(w("en") == ("en", 2L, 6L, 0.375, math.rint(1.0 / 3 / 0.375 * 1e6) / 1e6))
    assert(w("de")._4 == 0.125 && w("fr")._4 == 0.5)
    assert(math.abs(w.values.map(_._4).sum - 1.0) < 1e-6)
    // weight × observed share ≈ uniform target for every stratum
    w.values.foreach { r =>
      assert(math.abs(r._5 * r._4 - 1.0 / 3) < 1e-4, s"${r._1}")
    }
  }

  test("mixture weights: zero-token stratum gets NULL weight, downsample keeps it whole") {
    // the "xx" stratum has only empty documents: observed token share is 0,
    // the ratio is undefined — must not throw under ANSI, and the NULL
    // weight is the keep-everything limit of under-represented
    val docs = Seq(
      (1L, "en", "one two three"), (2L, "en", "four five"),
      (3L, "xx", ""), (4L, "xx", "  ")).toDF("doc_id", "lang", "text")
    val w = Corpus.mixtureWeights(docs, Seq("lang"), TextAnalysis.tokenCount($"text"))
      .collect().map(r => r.getString(0) -> r).toMap
    assert(w("xx").isNullAt(4), "zero-token weight must be NULL")
    assert(w("xx").getDouble(3) === 0.0) // share is defined: 0 of 5 tokens
    assert(!w("en").isNullAt(4))
    val out = Corpus.applyMixtureWeights(docs, Seq("lang"),
      TextAnalysis.tokenCount($"text"), "doc_id", salt = "42")
    assert(out.filter($"lang" === "xx").count() === 2, "NULL weight dropped docs")
  }

  test("mixture downsample never annihilates a stratum below the hash granularity") {
    // weight = (1/|strata|)/share can drop below 1/65536 once |strata| is
    // large and one stratum dominates (one crawl domain among tens of
    // thousands). floor(weight·65536) is then 0 — the threshold must floor
    // at 1 so the stratum is cut to the hash granularity, NOT to zero.
    val md = java.security.MessageDigest.getInstance("MD5")
    def hash16(id: Long): Int = {
      val h = md.digest(s"$id:ann".getBytes("UTF-8"))
      ((h(0) & 0xFF) << 8) | (h(1) & 0xFF)
    }
    // deterministic: md5 is stable, so these scans always find the same ids
    val luckyId = (0L to 300000L).find(hash16(_) == 0).get
    val unluckyIds = (0L to 300000L).filter(hash16(_) != 0).take(9)
    // 65536 singleton strata (1 token each) + one "big" stratum holding
    // ~all tokens: weight_big = (1/65537)/share_big < 1/65536
    val singletons = spark.range(65536).select(
      ($"id" + 10000000L).as("doc_id"),
      concat(lit("s"), $"id").as("lang"), lit(1L).as("toks"))
    val big = (luckyId +: unluckyIds).toDF("doc_id")
      .select($"doc_id", lit("big").as("lang"), lit(100000000L).as("toks"))
    val docs = singletons.unionByName(big)
    val w = Corpus.mixtureWeights(docs, Seq("lang"), $"toks")
      .filter($"lang" === "big").select($"weight").as[Double].head()
    assert(w > 0 && w < 1.0 / 65536, s"fixture must induce sub-granularity weight, got $w")
    val kept = Corpus.applyMixtureWeights(docs, Seq("lang"), $"toks", "doc_id",
        salt = "ann")
      .filter($"lang" === "big").select($"doc_id").as[Long].collect().toSet
    assert(kept === Set(luckyId),
      s"big stratum must keep exactly the hash16==0 doc, got $kept")
  }

  test("decontamination flags eval-overlapping docs and only those") {
    val evalSet = Seq(
      (100L, "the quick brown fox jumps over the lazy dog near the river"),
      (113L, "entirely unrelated benchmark question about quantum flux capacitors"))
      .toDF("doc_id", "text")
    val corpus = Seq(
      (1L, "the quick brown fox jumps over the lazy dog near the river bank"), // leak of 100
      (2L, "completely different document about cooking pasta with garlic and oil"),
      (3L, "another clean document describing mountain hiking trails in summer"))
      .toDF("doc_id", "text")
    val pairs = NearDup.contaminationPairs(corpus, evalSet, "text", "doc_id",
      n = 3, minJaccard = 0.2)
    assert(pairs.select($"id_a", $"id_b").as[(Long, Long)].collect().toSet ==
      Set((100L, 1L)))
    val clean = NearDup.decontaminate(corpus, evalSet, "text", "doc_id",
      n = 3, minJaccard = 0.2).select($"doc_id").as[Long].collect().toSet
    assert(clean == Set(2L, 3L))
  }

  test("exact contamination counts distinct colliding grams; one pasted sentence flags") {
    val evalSet = Seq(
      (900L, "alpha beta gamma delta epsilon zeta"))
      .toDF("doc_id", "text")
    val corpus = Seq(
      // one pasted eval sentence inside a long unrelated doc — Jaccard at a
      // document level would miss it; exact collision must flag it with the
      // 2 distinct eval 5-grams it contains
      (1L, "totally unrelated preface alpha beta gamma delta epsilon zeta and a long tail of other words"),
      (2L, "no overlap with the benchmark material at all in this document"),
      // repeats the SAME eval 5-gram twice → still 1 distinct colliding gram
      (3L, "alpha beta gamma delta epsilon then alpha beta gamma delta epsilon"))
      .toDF("doc_id", "text")
    val hits = NearDup.exactContamination(corpus, evalSet, "text", "doc_id", n = 5)
      .as[(Long, Long)].collect().toMap
    assert(hits === Map(1L -> 2L, 3L -> 1L), s"got $hits")
  }

  test("JL projection preserves pairwise distances within expected distortion") {
    import graft.functions.Similarity
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
      .filter($"vec_id" < 24)
      .select($"vec_id", $"embedding".cast("array<double>").as("v"))
    val dim = emb.select(size($"v")).head.getInt(0)
    val proj = emb.withColumn("p", Similarity.jlProject($"v", dim, k = 32))
    val rows = proj.select($"vec_id", $"v", $"p").orderBy($"vec_id")
      .collect()
      .map(r => (r.getLong(0), r.getSeq[Double](1).toArray, r.getSeq[Double](2).toArray))
    def dist(a: Array[Double], b: Array[Double]) =
      math.sqrt(a.zip(b).map { case (x, y) => (x - y) * (x - y) }.sum)
    val ratios = for {
      i <- rows.indices; j <- (i + 1) until rows.length
      d0 = dist(rows(i)._2, rows(j)._2) if d0 > 0
    } yield dist(rows(i)._3, rows(j)._3) / d0
    assert(ratios.nonEmpty)
    val mean = ratios.sum / ratios.size
    // JL at k=32: unit expectation, O(1/sqrt(k)) spread — deterministic
    // for the fixed seed, so these bounds pin the draw, not just theory
    assert(math.abs(mean - 1.0) < 0.15, s"mean distortion $mean")
    assert(ratios.forall(r => r > 0.5 && r < 1.6),
      s"distortion tail out of band: ${ratios.min} .. ${ratios.max}")
    // deterministic: a second evaluation reproduces the projection exactly
    val again = proj.select($"vec_id", $"p").orderBy($"vec_id")
      .collect().map(_.getSeq[Double](1))
    assert(again.map(_.toSeq).toSeq == rows.map(_._3.toSeq).toSeq)
  }

  test("containment flags a subset duplicate symmetric Jaccard misses") {
    val short = "alpha beta gamma delta epsilon zeta eta theta"
    val corpus = Seq(
      (1L, short), // quoted whole inside doc 2's much longer text
      (2L, "one two three four five six seven eight nine ten " + short +
        " eleven twelve thirteen fourteen fifteen sixteen seventeen eighteen"),
      (3L, "entirely unrelated text about cooking pasta with garlic and olive oil"))
      .toDF("doc_id", "text")
    val cont = NearDup.ngramContainmentPairs(corpus, "text", "doc_id",
      n = 3, minContainment = 0.9)
      .select($"id_a", $"id_b", $"containment").as[(Long, Long, Double)].collect()
    assert(cont.length == 1 && cont.head._1 == 1L && cont.head._2 == 2L &&
      cont.head._3 == 1.0, s"got ${cont.toSeq}")
    // the same pair stays under a symmetric-Jaccard threshold: 6 shared
    // shingles over the 24-shingle union is exactly 0.25 < 0.3
    val jac = NearDup.ngramJaccardPairs(corpus, "text", "doc_id",
      n = 3, minJaccard = 0.3)
    assert(jac.isEmpty, "Jaccard should miss the subset dup at this threshold")
  }

  test("contamination fraction grades hit share and keeps clean docs") {
    val evalSet = Seq((900L, "alpha beta gamma delta epsilon zeta"))
      .toDF("doc_id", "text")
    val corpus = Seq(
      // 16 tokens → 12 distinct 5-grams, 2 of them eval grams
      (1L, "totally unrelated preface alpha beta gamma delta epsilon zeta and a long tail of other words"),
      // clean doc stays in the report with hit_frac 0
      (2L, "no overlap with the benchmark material at all in this document"),
      // under n tokens → no grams → absent
      (3L, "tiny doc"))
      .toDF("doc_id", "text")
    val out = NearDup.contaminationFraction(corpus, evalSet, "text", "doc_id", n = 5)
      .select($"doc_id", $"n_grams", $"n_hits", $"hit_frac")
      .as[(Long, Long, Long, Double)].collect().toSet
    assert(out == Set((1L, 12L, 2L, 0.1667), (2L, 7L, 0L, 0.0)), s"got $out")
  }

  test("decontamination tolerates eval ids colliding with corpus ids") {
    // the eval set is EXTERNAL — its id space may overlap the corpus's; the
    // verify must resolve id_a against eval shingles and id_b against corpus
    // shingles, never a unioned lookup (which would fan out on shared ids)
    val evalSet = Seq((1L, "the quick brown fox jumps over the lazy dog"))
      .toDF("doc_id", "text")
    val corpus = Seq(
      (1L, "totally different corpus text about pasta and garlic bread"), // id collides
      (2L, "the quick brown fox jumps over the lazy dog today"))          // real leak
      .toDF("doc_id", "text")
    val pairs = NearDup.contaminationPairs(corpus, evalSet, "text", "doc_id",
      n = 3, minJaccard = 0.2).collect()
    assert(pairs.length == 1) // exactly one row, no fan-out duplicates
    assert(pairs.head.getAs[Long]("id_a") == 1L && pairs.head.getAs[Long]("id_b") == 2L)
    val clean = NearDup.decontaminate(corpus, evalSet, "text", "doc_id",
      n = 3, minJaccard = 0.2).select($"doc_id").as[Long].collect().toSet
    assert(clean == Set(1L)) // corpus doc 1 survives despite sharing the eval id
  }

  test("decontamination pairs equal the full pair list restricted to eval×corpus") {
    // the asymmetric index join must find exactly the cross pairs the
    // all-pairs form finds — no corpus-internal pairs, nothing missed
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val evalSet = docs.filter($"doc_id" % 13 === 0)
    val corpus = docs.filter($"doc_id" % 13 =!= 0)
    val got = NearDup.contaminationPairs(corpus, evalSet, "text", "doc_id",
        n = 3, minJaccard = 0.2)
      .select($"id_a", $"id_b", $"jaccard").as[(Long, Long, Double)].collect()
      .map { case (e, c, j) => (math.min(e, c), math.max(e, c), j) }.toSet
    val want = NearDup.ngramJaccardPairs(docs, "text", "doc_id",
        n = 3, minJaccard = 0.2, maxBucket = Int.MaxValue)
      .select($"id_a", $"id_b", $"jaccard").as[(Long, Long, Double)].collect()
      .filter { case (a, b, _) => (a % 13 == 0) != (b % 13 == 0) }.toSet
    assert(got == want, s"got ${got.size} vs want ${want.size}; " +
      s"missing=${(want -- got).take(5)} phantom=${(got -- want).take(5)}")
  }

  test("minhash banding reproduces exact all-pairs Jaccard at gate scales") {
    // 100% recall at (k=32, bands=8, τ=0.1) on the gate corpora — every
    // qualifying pair is a high-Jaccard twin, far above the banding
    // collision threshold. This licenses q24's exact-SQL oracle.
    for (dir <- Seq("/root/testdata/sf0.001", "/root/testdata/sf0.01")) {
      val docs = spark.read.parquet(s"$dir/documents.parquet")
      val banded = NearDup.minhashNearDup(docs, "text", "doc_id",
          n = 3, k = 32, bands = 8, minJaccard = 0.1)
        .select($"id_a", $"id_b", $"jaccard").as[(Long, Long, Double)].collect().toSet
      val exact = NearDup.ngramJaccardPairs(docs, "text", "doc_id",
          n = 3, minJaccard = 0.1, maxBucket = Int.MaxValue)
        .select($"id_a", $"id_b", $"jaccard").as[(Long, Long, Double)].collect().toSet
      assert(banded === exact,
        s"$dir: banded ${banded.size} vs exact ${exact.size}; " +
          s"missing=${(exact -- banded).take(5)}")
    }
  }

  test("LSH ANN candidates cover the exact top-k at every testdata scale") {
    // the bucket candidates contain the true top-5 of every query at the
    // pinned (tables=48, bits=4), so the exact re-rank reproduces q23's
    // output tuple-for-tuple — this licenses q26's exact-SQL oracle
    for (dir <- Seq("/root/testdata/sf0.001", "/root/testdata/sf0.01",
                    "/root/testdata/sf0.1")) {
      val exact = SparkEntry.queries("q23_knn_cosine")(spark, dir)
        .select($"query_id", $"neighbor_id", $"rank", $"sim")
        .as[(Long, Long, Long, Double)].collect().toSet
      val lsh = SparkEntry.queries("q26_ann_lsh")(spark, dir)
        .select($"query_id", $"neighbor_id", $"rank", $"sim")
        .as[(Long, Long, Long, Double)].collect().toSet
      assert(lsh === exact, s"$dir: ${(exact -- lsh).take(5)} missing")
    }
  }

  test("connected components match a driver-side union-find on random graphs") {
    val rnd = new scala.util.Random(21)
    // 300 nodes, sparse random edges → mix of singletons-in-pairs, chains,
    // small blobs (the near-dup graph shape)
    val edges = (1 to 260).map(_ => (rnd.nextInt(300).toLong, rnd.nextInt(300).toLong))
      .filter { case (a, b) => a != b }
    val pairs = edges.toDF("id_a", "id_b")
    val got = NearDup.connectedComponents(pairs, "id_a", "id_b")
      .as[(Long, Long)].collect().toMap
    // brute force: union-find over the same edges
    val parent = scala.collection.mutable.Map[Long, Long]()
    def find(x: Long): Long = {
      val p = parent.getOrElseUpdate(x, x)
      if (p == x) x else { val r = find(p); parent(x) = r; r }
    }
    edges.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    val expected = parent.keys.map(n => n -> find(n)).toMap
    assert(got.keySet === expected.keySet)
    // same partition into components, each labeled by its min member
    got.foreach { case (n, c) => assert(c === expected(n) || find(c) === expected(n)) }
    val gotGroups = got.groupBy(_._2).values.map(_.keySet).toSet
    val expGroups = expected.groupBy(_._2).values.map(_.keys.toSet).toSet
    assert(gotGroups === expGroups)
    got.foreach { case (_, c) => assert(got(c) === c, s"label $c must be its own root") }
  }

  test("connected components close a 1000-node chain (pathological diameter)") {
    // worst case for plain min-label propagation (needs diameter rounds =
    // 999); pointer jumping must close it within the round budget
    val pairs = (0L until 999L).map(i => (i, i + 1)).toDF("id_a", "id_b")
    val got = NearDup.connectedComponents(pairs, "id_a", "id_b")
      .as[(Long, Long)].collect()
    assert(got.length === 1000)
    assert(got.forall(_._2 == 0L), "every chain node must label to the min node 0")
  }

  test("canonical corpus from precomputed clusters equals the one-shot form") {
    val docs = (0L to 9L).map(i => (i, s"doc $i")).toDF("doc_id", "text")
    val pairs = Seq((0L, 1L), (1L, 2L), (5L, 7L)).toDF("id_a", "id_b")
    val oneShot = NearDup.canonicalCorpus(docs, pairs, "doc_id")
      .select($"doc_id").as[Long].collect().sorted
    val clusters = NearDup.connectedComponents(pairs, "id_a", "id_b")
    val shared = NearDup.canonicalCorpusFromClusters(docs, clusters, "doc_id")
      .select($"doc_id").as[Long].collect().sorted
    assert(oneShot.toSeq === Seq(0L, 3L, 4L, 5L, 6L, 8L, 9L))
    assert(shared.toSeq === oneShot.toSeq)
  }

  test("split assignment is stable, salted, and near the target fractions") {
    val docs = (0L until 2000L).map(i => (i, s"text $i")).toDF("doc_id", "text")
    val assigned = Corpus.splitAssign(docs, "doc_id", "42")
      .select($"doc_id", $"split").as[(Long, String)].collect().toMap
    // fractions near 230/13/13 of 256 (binomial tolerance on 2000 draws)
    val frac = assigned.values.groupBy(identity).view.mapValues(_.size / 2000.0)
    assert(math.abs(frac("train") - 230.0 / 256) < 0.03, frac.toMap)
    assert(math.abs(frac("val") - 13.0 / 256) < 0.02, frac.toMap)
    assert(math.abs(frac("test") - 13.0 / 256) < 0.02, frac.toMap)
    // stable under repartitioning AND under corpus growth: the first 2000
    // docs keep their split when 500 more arrive (randomSplit breaks both)
    val again = Corpus.splitAssign(docs.repartition(7), "doc_id", "42")
      .as[(Long, String, String)].collect().map(r => r._1 -> r._3).toMap
    assert(again === assigned)
    val grown = Corpus.splitAssign(
        (0L until 2500L).map(i => (i, s"text $i")).toDF("doc_id", "text"), "doc_id", "42")
      .select($"doc_id", $"split").as[(Long, String)].collect().toMap
    assert((0L until 2000L).forall(i => grown(i) === assigned(i)))
    // a different salt reshuffles assignments
    val resalted = Corpus.splitAssign(docs, "doc_id", "43")
      .select($"doc_id", $"split").as[(Long, String)].collect().toMap
    assert(resalted !== assigned)
  }

  test("sequence packing fills each sequence to the budget, never beyond +last doc") {
    val rnd = new scala.util.Random(7)
    val docs = (0L until 400L).map(i => (i, s"g${i % 3}", 50L + rnd.nextInt(400)))
      .toDF("doc_id", "grp", "n_tokens")
    val packed = Corpus.packSequences(docs, "n_tokens", budget = 1024L,
        partitionCols = Seq("grp"), orderCol = "doc_id")
      .select($"grp", $"seq_id", $"n_tokens").as[(String, Long, Long)].collect()
    val bySeq = packed.groupBy(p => (p._1, p._2)).view.mapValues(_.map(_._3))
    bySeq.foreach { case ((g, s), toks) =>
      assert(s >= 0)
      // offset-form packing: a sequence holds its docs entirely, so its sum
      // may overshoot the budget only by (part of) its final document
      assert(toks.sum < 1024L + toks.max, s"($g,$s): ${toks.sum} tokens")
    }
    // every doc packed exactly once
    assert(packed.length === 400)
  }

  test("vocab df counts documents, not occurrences, with a total top-k order") {
    val docs = Seq(
      (1L, "en", "alpha alpha alpha beta"), // alpha counts once for doc 1
      (2L, "en", "alpha beta beta"),
      (3L, "en", "beta gamma"),
      (4L, "de", "delta")).toDF("doc_id", "lang", "text")
    val got = Corpus.vocabTopDf(docs, "text", "lang", k = 10)
      .select($"lang", $"token", $"df", $"rnk").as[(String, String, Long, Long)]
      .collect().toSet
    assert(got === Set(("en", "beta", 3L, 1L), ("en", "alpha", 2L, 2L),
      ("en", "gamma", 1L, 3L), ("de", "delta", 1L, 1L)))
  }

  test("incremental near-dup equals the full form restricted to batch-touching pairs") {
    val docs = spark.read.parquet("/root/testdata/sf0.01/documents.parquet")
    val batch = docs.filter($"doc_id" % 7 === 0)
    val existing = docs.filter($"doc_id" % 7 =!= 0)
    val inc = NearDup.incrementalJaccardPairs(existing, batch, "text", "doc_id",
        n = 3, minJaccard = 0.2)
      .select($"id_a", $"id_b", $"jaccard").as[(Long, Long, Double)].collect()
      .map { case (a, b, j) => (math.min(a, b), math.max(a, b), j) }.toSet
    // the full-corpus form over the union, restricted to pairs touching the
    // batch — the incremental path must find exactly these (same fingerprint
    // family, same verify, same threshold)
    val full = NearDup.ngramJaccardPairs(docs, "text", "doc_id",
        n = 3, minJaccard = 0.2, maxBucket = Int.MaxValue)
      .select($"id_a", $"id_b", $"jaccard").as[(Long, Long, Double)].collect()
      .filter(p => p._1 % 7 == 0 || p._2 % 7 == 0).toSet
    assert(inc === full, s"missing=${(full -- inc).take(5)} phantom=${(inc -- full).take(5)}")
    assert(inc.nonEmpty, "sf0.01 has batch-touching near-dup pairs")
    // admission: every admitted doc is from the batch; dropped docs are
    // exactly the batch side of some pair
    val admitted = NearDup.admitBatch(existing, batch, "text", "doc_id",
        n = 3, minJaccard = 0.2)
      .select($"doc_id").as[Long].collect().toSet
    val batchIds = batch.select($"doc_id").as[Long].collect().toSet
    assert(admitted.subsetOf(batchIds))
    val droppedByPairs = inc.flatMap { case (a, b, _) =>
      Seq(a, b).filter(batchIds.contains) match {
        case Seq(x) => Seq(x)                    // existing↔batch: batch side drops
        case Seq(x, y) => Seq(math.max(x, y))    // batch-internal: larger id drops
        case _ => Nil
      }
    }
    assert(admitted === batchIds -- droppedByPairs)
  }

  test("incremental semantic admission equals the exact all-pairs rule (sf0.01)") {
    val emb = spark.read.parquet("/root/testdata/sf0.01/embeddings.parquet")
    val batch = emb.filter($"vec_id" % 7 === 0)
    val existing = emb.filter($"vec_id" % 7 =!= 0)
    val inc = Similarity.incrementalCosinePairs(existing, batch,
        minCosine = 0.4, dim = 64)
      .select($"id_a", $"id_b").as[(Long, Long)].collect()
      .map(p => (math.min(p._1, p._2), math.max(p._1, p._2))).toSet
    // the exact all-pairs form over the union, restricted to batch-touching
    // pairs — the incremental LSH path must find exactly these (100% recall
    // at the q65 parameters on gate data; same verify, same threshold)
    val full = Similarity.cosineNearDupPairsExact(emb, minCosine = 0.4)
      .select($"id_a", $"id_b").as[(Long, Long)].collect()
      .filter(p => p._1 % 7 == 0 || p._2 % 7 == 0).toSet
    assert(inc === full, s"missing=${(full -- inc).take(5)} phantom=${(inc -- full).take(5)}")
    assert(inc.nonEmpty, "sf0.01 embeddings have batch-touching near-dup pairs")
    // admission: every admitted vec is from the batch; dropped vecs are
    // exactly the batch side of some pair (pair-local rule)
    val admitted = Similarity.admitVectorBatch(existing, batch,
        minCosine = 0.4, dim = 64)
      .select($"vec_id").as[Long].collect().toSet
    val batchIds = batch.select($"vec_id").as[Long].collect().toSet
    assert(admitted.subsetOf(batchIds))
    val droppedByPairs = inc.flatMap { case (a, b) =>
      Seq(a, b).filter(batchIds.contains) match {
        case Seq(x) => Seq(x)                 // existing↔batch: batch side drops
        case Seq(x, y) => Seq(math.max(x, y)) // batch-internal: larger id drops
        case _ => Nil
      }
    }
    assert(admitted === batchIds -- droppedByPairs)
  }

  test("DSIR importance weights upweight the target slice (sf0.01)") {
    val docs = spark.read.parquet("/root/testdata/sf0.01/documents.parquet")
    val w = Corpus.dsirLogWeights(docs, "text", "doc_id", $"lang" === "en")
      .join(docs.select($"doc_id", $"lang"), "doc_id")
      .select($"lang" === "en", $"log_weight").as[(Boolean, Double)].collect()
    val (en, other) = w.partition(_._1)
    assert(en.nonEmpty && other.nonEmpty)
    val enMean = en.map(_._2).sum / en.size
    val otherMean = other.map(_._2).sum / other.size
    // the entire point of importance resampling: target-like documents
    // must score strictly higher on average than the rest
    assert(enMean > otherMean,
      s"target slice not upweighted: en=$enMean other=$otherMean")
    // per-token log-ratios are bounded (Laplace smoothing): no runaway
    // weight can dominate a resample
    val maxPerTok = w.map { case (_, lw) => math.abs(lw) }.max
    assert(maxPerTok.isFinite)
  }

  test("corpus pipeline end-to-end: filter → dedup → split → pack composes and conserves") {
    // the full training-data path as one composed flow over real testdata:
    // quality filter → near-dup canonical corpus → split assignment →
    // sequence packing. Asserts conservation (no doc lost or duplicated at
    // any stage), stage containment, and rerun determinism.
    val docs = spark.read.parquet("/root/testdata/sf0.01/documents.parquet")
    def run(): (Set[Long], Set[Long], Map[Long, String], Map[Long, (String, Long)]) = {
      val filtered = docs.filter(TextAnalysis.tokenCount($"text") >= 5)
      val pairs = NearDup.ngramJaccardPairs(filtered, "text", "doc_id",
        n = 3, minJaccard = 0.2)
      val deduped = NearDup.canonicalCorpus(filtered, pairs, "doc_id")
      val split = Corpus.splitAssign(deduped, "doc_id", "e2e")
      val packed = Corpus.packSequences(
        split.select($"doc_id", $"lang", $"split",
          TextAnalysis.tokenCount($"text").cast("long").as("n_tokens")),
        "n_tokens", budget = 2048L, partitionCols = Seq("split", "lang"),
        orderCol = "doc_id")
      (filtered.select($"doc_id").as[Long].collect().toSet,
        deduped.select($"doc_id").as[Long].collect().toSet,
        split.select($"doc_id", $"split").as[(Long, String)].collect().toMap,
        packed.select($"doc_id", $"lang", $"seq_id").as[(Long, String, Long)]
          .collect().map(r => r._1 -> (r._2, r._3)).toMap)
    }
    val (filtered, deduped, split, packed) = run()
    assert(filtered.nonEmpty && deduped.nonEmpty)
    assert(deduped.subsetOf(filtered), "dedup must only drop documents")
    assert(deduped.size < filtered.size, "the sf0.01 corpus has near-dups to drop")
    assert(split.keySet === deduped, "split assigns every surviving doc exactly once")
    assert(packed.keySet === deduped, "packing covers every surviving doc exactly once")
    assert(split.values.toSet.subsetOf(Set("train", "val", "test")))
    // rerun: identical end-to-end (no RNG, no partition-order dependence)
    val (f2, d2, s2, p2) = run()
    assert(f2 === filtered && d2 === deduped && s2 === split && p2 === packed)
  }

  test("extensions route exposes the native family to plain SQL") {
    // the session is built withExtensions(GraftExtensions): a SQL user gets
    // the same surface the Scala helpers use, with shape parameters as
    // trailing literals folded at resolution time
    val docs = Seq((1L, "a b c d"), (2L, "a b c d"), (3L, "x y z w"))
      .toDF("doc_id", "text")
    docs.createOrReplaceTempView("ext_docs")
    val sql = spark.sql(
      """SELECT doc_id,
                graft_simhash64(split(text, ' ')) AS sh,
                graft_shingles(text, 3) AS grams,
                graft_shingle_hashes(text, 3) AS gram_hashes,
                graft_minhash_sig(graft_shingles(text, 3), 32, 42) AS sig
         FROM ext_docs""")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getSeq[String](2),
        r.getSeq[Long](3), r.getSeq[Long](4)))
    assert(sql.length === 3)
    val byId = sql.map(r => r._1 -> r).toMap
    assert(byId(1L)._2 === byId(2L)._2) // identical docs: same simhash
    assert(byId(1L)._5 === byId(2L)._5) // ... and same minhash signature
    assert(byId(1L)._3 === Seq("a b c", "b c d"))
    assert(byId(1L)._4.length === 2)
    assert(byId(1L)._4 !== byId(3L)._4)
    val cos = spark.sql(
      """SELECT graft_cosine(CAST(array(1.0, 0.0) AS ARRAY<DOUBLE>),
                             CAST(array(1.0, 0.0) AS ARRAY<DOUBLE>)) AS c""")
      .head().getDouble(0)
    assert(math.abs(cos - 1.0) < 1e-12)
    // non-literal shape parameter fails resolution with a clear message
    val err = intercept[Exception] {
      spark.sql("SELECT graft_shingles(text, doc_id) FROM ext_docs").collect()
    }
    assert(err.getMessage.contains("integer literal") ||
      Option(err.getCause).exists(_.getMessage.contains("integer literal")))
    // round-4 injections: repetition stats and the top-k typed aggregate
    val rep = spark.sql(
      """SELECT graft_gram_repetition('a b a b c', 2).dup_frac AS d""")
      .head().getDouble(0)
    assert(math.abs(rep - 3.0 / 9) < 1e-9)
    val topk = spark.sql(
      """SELECT graft_topk(CAST(v AS DOUBLE), CAST(id AS BIGINT), 2) AS t
         FROM VALUES (1, 10), (3, 30), (2, 20) AS x(v, id)""")
      .head().getSeq[org.apache.spark.sql.Row](0)
    assert(topk.map(r => (r.getDouble(0), r.getLong(1))) == Seq((3.0, 30L), (2.0, 20L)))
  }

  test("quantile sketch rank error is within accuracy bound vs exact order stats") {
    val dir = "/root/testdata/sf0.01"
    val events = spark.read.parquet(s"$dir/events.parquet")
    val vals = events
      .select($"event_type", $"value").as[(String, Double)].collect()
      .groupBy(_._1).view.mapValues(_.map(_._2).sorted).toMap
    // direct GK assertion (independent of the query's own fence): accuracy
    // a=2000 guarantees rank error <= n/2000; verify each reported value's
    // actual rank sits within that band of the target rank
    val approx = events.groupBy($"event_type")
      .agg(org.apache.spark.sql.functions.percentile_approx(
        $"value", org.apache.spark.sql.functions.array(
          org.apache.spark.sql.functions.lit(0.25),
          org.apache.spark.sql.functions.lit(0.75),
          org.apache.spark.sql.functions.lit(0.95)),
        org.apache.spark.sql.functions.lit(2000)).as("g"))
      .select($"event_type", $"g" (0), $"g" (1), $"g" (2))
      .as[(String, Double, Double, Double)].collect()
      .map { case (t, a, b, c) => t -> Seq(0.25 -> a, 0.75 -> b, 0.95 -> c) }
      .toMap
    for ((t, qs) <- approx; (q, v) <- qs) {
      val xs = vals(t)
      val rank = xs.count(_ <= v).toDouble / xs.length
      assert(math.abs(rank - q) <= 1.0 / 2000 + 1.0 / xs.length + 0.01,
        s"$t q=$q: reported $v has rank $rank")
    }
    // the oracle-fenced q44: exactly one surviving row per event_type means
    // every in-plan GK estimate passed the (q±ε)n exact-rank band — the same
    // property the driver's row-count check certifies at verify time —
    // and the emitted columns are the exact interpolation-free quantiles
    val q44 = SparkEntry.queries("q44_quantile_sketch")(spark, dir)
      .select("event_type", "p25", "p75", "p95")
      .as[(String, Double, Double, Double)].collect()
    assert(q44.length == vals.size,
      s"q44 kept ${q44.length} of ${vals.size} groups — a GK estimate " +
        "escaped its rank band")
    for ((t, p25, p75, p95) <- q44) {
      val xs = vals(t); val n = xs.length
      def exact(q: Double) = xs(math.ceil(q * n).toInt - 1)
      assert(p25 == exact(0.25) && p75 == exact(0.75) && p95 == exact(0.95),
        s"$t exact-rank mismatch")
    }
  }

  test("approx distinct per group within rsd of exact countDistinct") {
    val events = spark.read.parquet("/root/testdata/sf0.001/events.parquet")
    val cmp = events.groupBy($"event_type")
      .agg(countDistinct($"user_id").as("exact"),
        approx_count_distinct($"user_id", rsd = 0.02).as("approx"))
      .select($"exact".cast("double"), $"approx".cast("double")).as[(Double, Double)]
      .collect()
    assert(cmp.nonEmpty)
    cmp.foreach { case (exact, approx) =>
      assert(math.abs(approx - exact) / exact <= 0.05,
        s"approx $approx vs exact $exact drifts > 5%")
    }
  }

  test("PII redaction scrubs each type, leaves prose alone, and counts match") {
    val df = Seq(
      ("write to jane.doe+x@sub.example.co.uk today", "write to <EMAIL> today", 1L, 0L, 0L),
      ("server 10.123.245.9 answered", "server <IPV4> answered", 0L, 1L, 0L),
      ("call +1-202-555-0173 or (202) 555 0174", "call <PHONE> or (<PHONE>", 0L, 0L, 2L),
      ("version 1.2.3 on 2024-01-30 at 12:30", "version 1.2.3 on 2024-01-30 at 12:30", 0L, 0L, 0L),
      ("a@b.io and 10.0.0.1 and 2025550199", "<EMAIL> and <IPV4> and <PHONE>", 1L, 1L, 1L))
      .toDF("text", "want", "n_email", "n_ipv4", "n_phone")
    val counts = TextAnalysis.piiCounts($"text")
    val got = df.select($"want", TextAnalysis.redactPii($"text").as("got"),
      $"n_email", counts("email").as("ce"),
      $"n_ipv4", counts("ipv4").as("ci"),
      $"n_phone", counts("phone").as("cp")).collect()
    got.foreach { r =>
      assert(r.getAs[String]("got") === r.getAs[String]("want"))
      assert(r.getAs[Long]("ce") === r.getAs[Long]("n_email"))
      assert(r.getAs[Long]("ci") === r.getAs[Long]("n_ipv4"))
      assert(r.getAs[Long]("cp") === r.getAs[Long]("n_phone"))
    }
  }

  test("PII redaction order: a dotted quad never half-matches as a phone") {
    // ipv4 runs before phone; once the quad is <IPV4> no digits remain.
    // 3-digit octets are exactly the shape a permissive phone regex bites.
    val r = Seq("at 123.456.789.123 end").toDF("text")
      .select(TextAnalysis.redactPii($"text")).head().getString(0)
    assert(r === "at <IPV4> end")
  }

  test("document chunking: overlap, short tail, empty docs, exact provenance") {
    val docs = Seq(
      (1L, (1 to 11).map(i => s"t$i").mkString(" ")), // 11 tokens
      (2L, "only three tokens"),
      (3L, ""),
      (4L, null.asInstanceOf[String]))
      .toDF("doc_id", "text")
    val out = Corpus.chunkDocuments(docs, "text", "doc_id", chunkTokens = 5, stride = 3)
      .orderBy($"doc_id", $"chunk_id")
      .as[(Long, Long, Long, String)].collect()
    // doc 1: starts 0,3,6,9 → sizes 5,5,5,2; doc 2: starts 0 → size 3
    assert(out.map(c => (c._1, c._2, c._3)).toSeq === Seq(
      (1L, 0L, 5L), (1L, 1L, 5L), (1L, 2L, 5L), (1L, 3L, 2L), (2L, 0L, 3L)))
    assert(out(1)._4 === "t4 t5 t6 t7 t8")  // start=3 → tokens 4..8
    assert(out(3)._4 === "t10 t11")          // tail keeps the remainder
    assert(out(4)._4 === "only three tokens")
    // overlap invariant: consecutive chunks share chunkTokens - stride tokens
    val c0 = out(0)._4.split(" "); val c1 = out(1)._4.split(" ")
    assert(c0.takeRight(2).toSeq === c1.take(2).toSeq)
  }

  test("shard shuffle: partition of the corpus, dense ranks, salt-sensitive") {
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val n = docs.count()
    val out = Corpus.shuffleShards(docs, "doc_id", salt = "42", nShards = 8)
      .select($"doc_id", $"shard", $"shard_pos").cache()
    try {
      assert(out.count() === n)                          // nothing dropped
      assert(out.select($"doc_id").distinct().count() === n)
      val shards = out.groupBy($"shard")
        .agg(count(lit(1)).as("n"), max($"shard_pos").as("mx"), min($"shard_pos").as("mn"))
        .as[(Long, Long, Long, Long)].collect()
      assert(shards.map(_._1).toSet.subsetOf((0L until 8L).toSet))
      // positions are dense 1..n_shard (a total order per shard)
      shards.foreach { case (s, cnt, mx, mn) =>
        assert(mn === 1L && mx === cnt, s"shard $s ranks not dense")
      }
      // every shard populated and no shard grossly over the uniform share
      assert(shards.length === 8)
      shards.foreach { case (s, cnt, _, _) =>
        assert(cnt < 2L * n / 8 + 8, s"shard $s skewed: $cnt of $n") }
      // a different salt reorders (salt drives the permutation)
      val other = Corpus.shuffleShards(docs, "doc_id", salt = "43", nShards = 8)
        .select($"doc_id", $"shard".as("shard2"), $"shard_pos".as("pos2"))
      val moved = out.join(other, "doc_id")
        .filter($"shard" =!= $"shard2" || $"shard_pos" =!= $"pos2").count()
      assert(moved > n / 2, s"salt change moved only $moved of $n")
    } finally out.unpersist()
  }

  test("char entropy: hand-checked values and equivalence to explode+groupBy") {
    val m = TextAnalysis.charEntropyMetrics(
      Seq("aabb", "abcd", "aaaa", "").toDF("text"), $"text")
    val r = Seq("aabb", "abcd", "aaaa", "").toDF("text")
      .select($"text", m("char_entropy").as("e"), m("n_chars").as("n"),
        m("n_distinct_chars").as("d"))
      .as[(String, Double, Long, Long)].collect().map(t => t._1 -> (t._2, t._3, t._4)).toMap
    assert(r("aabb") === ((1.0, 4L, 2L)))   // two equiprobable symbols
    assert(r("abcd") === ((2.0, 4L, 4L)))   // four equiprobable symbols
    assert(r("aaaa") === ((0.0, 4L, 1L)))   // degenerate
    assert(r("") === ((0.0, 0L, 0L)))
    // equivalence on real documents vs the (shuffling) explode formulation
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet").limit(100)
    val native = docs.select($"doc_id",
      TextAnalysis.charEntropyMetrics(docs, $"text")("char_entropy").as("e"))
    val exploded = docs
      .select($"doc_id", explode(split($"text", "")).as("ch"))
      .groupBy($"doc_id", $"ch").agg(count(lit(1)).as("c"))
      .groupBy($"doc_id").agg((log2(sum($"c")) -
        sum($"c" * log2($"c")) / sum($"c")).as("e2"))
    val drift = native.join(exploded, "doc_id")
      .filter(abs($"e" - round($"e2", 4)) > 1e-9).count()
    assert(drift === 0)
  }

  test("mixture rebalancing sample: dominant strata shed toward target, deterministic subset") {
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val out = Corpus.applyMixtureWeights(docs, Seq("lang"),
      TextAnalysis.tokenCount($"text"), "doc_id", salt = "42")
    // survivors are a subset; full-weight strata keep every document
    assert(out.join(docs, Seq("doc_id"), "left_anti").isEmpty)
    val before = docs.groupBy($"lang").count().as[(String, Long)].collect().toMap
    val after = out.groupBy($"lang").count().as[(String, Long)].collect().toMap
    val w = Corpus.mixtureWeights(docs, Seq("lang"), TextAnalysis.tokenCount($"text"))
      .select($"lang", $"weight").as[(String, Double)].collect().toMap
    for ((lang, n) <- before) {
      if (w(lang) >= 1.0) assert(after(lang) === n, s"$lang lost docs at weight >= 1")
      else {
        val p = math.max(math.floor(math.min(w(lang), 1.0) * 65536), 1.0) / 65536
        // md5 bytes are uniform: expect np within a generous binomial band
        val exp = n * p
        assert(math.abs(after(lang) - exp) <= 4 * math.sqrt(exp) + 3,
          s"$lang kept ${after(lang)} vs expected ~$exp at p=$p")
      }
    }
    // same (id, salt) → same fate regardless of partitioning
    val again = Corpus.applyMixtureWeights(docs.repartition(13), Seq("lang"),
      TextAnalysis.tokenCount($"text"), "doc_id", salt = "42")
    assert(out.select($"doc_id").exceptAll(again.select($"doc_id")).isEmpty)
    assert(again.select($"doc_id").exceptAll(out.select($"doc_id")).isEmpty)
  }

  test("boilerplate ngrams: domain chrome ranks first, counted once per doc") {
    // every docA-page carries the footer "subscribe now"; doc 5 spams it.
    val rows = (1 to 8).map(i =>
      (i.toLong, "a", s"unique$i words here subscribe now" +
        (if (i == 5) " subscribe now subscribe now" else ""))) ++
      (1 to 8).map(i => (100L + i, "b", s"plain text body number$i"))
    val docs = rows.toDF("doc_id", "source", "text")
    val out = Corpus.boilerplateNgrams(docs, "text", "source", n = 2, k = 3, minDf = 2)
      .as[(String, String, Long, Long)].collect()
    val a = out.filter(_._1 == "a")
    // the three shared footer bigrams all hit df=8 (ties rank by gram
    // text), and df counts documents, not occurrences: doc 5's spam adds
    // nothing beyond its one appearance
    assert(a.map(r => (r._2, r._3)).toSet ===
      Set(("here subscribe", 8L), ("subscribe now", 8L), ("words here", 8L)))
    // source b has no bigram reaching df 2 except its shared "plain text" etc.
    val b = out.filter(_._1 == "b").map(_._2)
    assert(b.contains("plain text") && b.contains("text body"))
    assert(out.forall(_._4 <= 3))
  }

  test("token drift: matching group has near-zero KL, divergent group positive") {
    // groups x and y share one uniform vocab; z is concentrated elsewhere
    val rows =
      (1 to 20).map(i => (i.toLong, "x", "alpha beta gamma delta")) ++
      (1 to 20).map(i => (100L + i, "y", "alpha beta gamma delta")) ++
      (1 to 20).map(i => (200L + i, "z", "omega omega omega omega"))
    val out = Corpus.tokenKlDrift(rows.toDF("doc_id", "source", "text"),
        "text", "source")
      .as[(String, Long, Double)].collect().map(t => t._1 -> t._3).toMap
    // KL is never negative, and the outlier dominates
    assert(out.values.forall(_ >= 0.0))
    assert(out("z") > out("x") && out("z") > 1.0)
    // x and y ARE part of the corpus mixture, so their KL is small but > 0
    assert(out("x") < 0.7 && (out("x") - out("y")).abs < 1e-9)
  }

  test("reputation gate: clean docs on a rotten source are blocked") {
    val good = "the quick brown fox jumps over a lazy dog while seven wizards " +
      "quietly mix bright blue potions near five old stone towers"
    val bad = "spam spam spam spam spam spam spam spam spam spam spam spam"
    val rows =
      (1 to 10).map(i => (i.toLong, "clean", good + i)) ++
      // rotten: 1 good page in 10 -> keep rate 0.1 < 0.75
      (1 to 9).map(i => (100L + i, "rotten", bad)) :+ ((110L, "rotten", good + "x"))
    val out = Corpus.reputationGate(rows.toDF("doc_id", "source", "text"),
        "text", "doc_id", "source", minKeepRate = 0.75)
      .as[(Long, String, String, Double, String)].collect()
    val byId = out.map(r => r._1 -> r).toMap
    // the rotten source's individually-clean page is still blocked
    assert(byId(110L)._3 === "keep" && byId(110L)._5 === "blocked_source")
    assert(out.filter(_._2 == "rotten").forall(_._5 === "blocked_source"))
    // the clean source passes through with its per-doc verdicts intact
    assert(out.filter(_._2 == "clean").forall(r => r._5 === r._3 && r._4 === 1.0))
  }

  test("pagerank: cycle stays uniform, star concentrates rank on the hub") {
    import graft.functions.Graph
    // 3-cycle: every node keeps exactly 1/3 at every iteration
    val cycle = Seq((1L, 2L), (2L, 3L), (3L, 1L)).toDF("src", "dst")
    val cr = Graph.pageRank(cycle, "src", "dst", iters = 3)
      .as[(Long, Double)].collect().toMap
    val third = math.rint(1.0 / 3 * 1e12) / 1e12
    assert(cr.values.forall(r => (r - third).abs < 1e-12), s"cycle ranks $cr")
    // star: leaves 1..6 -> hub 0; hub -> 1 (so it has out-edges)
    val star = ((1L to 6L).map(_ -> 0L) :+ (0L -> 1L)).toDF("src", "dst")
    val sr = Graph.pageRank(star, "src", "dst", iters = 3)
      .as[(Long, Double)].collect().toMap
    assert(sr(0L) > sr(2L) * 4, s"hub should dominate: $sr")
    // node 1 receives the hub's whole rank; nodes 2..6 only teleport
    assert(sr(1L) > sr(2L) && (2L to 6L).map(sr).distinct.size === 1)
    // determinism: same ranks from a repartitioned edge list
    val sr2 = Graph.pageRank(star.repartition(7), "src", "dst", iters = 3)
      .as[(Long, Double)].collect().toMap
    assert(sr === sr2)
  }

  test("edit-distance verify: known distances, threshold on rounded sim") {
    val docs = Seq((1L, "kitten"), (2L, "sitting"), (3L, "kitten"),
      (4L, "completely different words")).toDF("doc_id", "text")
    val pairs = Seq((1L, 2L), (1L, 3L), (1L, 4L)).toDF("id_a", "id_b")
    val out = NearDup.editDistanceVerify(docs, "text", "doc_id", pairs, minSim = 0.5)
      .as[(Long, Long, Long, Double)].collect().map(r => (r._1, r._2) -> r).toMap
    // kitten->sitting is the textbook distance 3; sim = 1 - 3/7
    assert(out((1L, 2L))._3 === 3L)
    assert(math.abs(out((1L, 2L))._4 - (1.0 - 3.0 / 7)) < 1e-6)
    // identical pair: distance 0, sim 1; the far pair is filtered out
    assert(out((1L, 3L))._3 === 0L && out((1L, 3L))._4 === 1.0)
    assert(!out.contains((1L, 4L)))
  }

  test("domain quota cap: keeps best n per stratum, ties to min id, small strata whole") {
    import graft.functions.Corpus
    val docs = Seq(
      (1L, "a", 10L), (2L, "a", 30L), (3L, "a", 20L), (4L, "a", 30L), // a: top2 = 2,4
      (5L, "b", 5L),                                                  // b under quota
      (6L, "c", 7L), (7L, "c", 7L), (8L, "c", 7L)                     // c all tied → 6,7
    ).toDF("doc_id", "source", "q")
    val kept = Corpus.quotaCap(docs, Seq("source"), $"q", "doc_id", n = 2)
      .select($"doc_id").as[Long].collect().toSet
    assert(kept === Set(2L, 4L, 5L, 6L, 7L), s"got $kept")
    // stable under repartitioning: the window's total order is explicit
    val again = Corpus.quotaCap(docs.repartition(7), Seq("source"), $"q", "doc_id", 2)
      .select($"doc_id").as[Long].collect().toSet
    assert(again === kept)
    // full schema passes through minus the helper rank
    assert(Corpus.quotaCap(docs, Seq("source"), $"q", "doc_id", 2).columns.toSeq
      === docs.columns.toSeq)
  }

  test("winnowing: copied spans share a fingerprint; short and empty docs behave") {
    import graft.functions.TextAnalysis
    val span = "alpha beta gamma delta epsilon zeta eta" // 7 words ≥ w+n-1 = 6
    val docs = Seq(
      (1L, s"first document preamble $span and a first-specific ending tail"),
      (2L, s"completely different opener here $span with another distinct closing"),
      (3L, "tiny doc"),         // 0 grams at n=3... 2 words → no 3-gram
      (4L, "four word doc here"), // 2 grams < w → single overall min
      (5L, ""))
      .toDF("doc_id", "text")
    def fpSets(df: org.apache.spark.sql.DataFrame) = {
      val grams = graft.plans.GraftFunctions.wordShingles(
        df, coalesce($"text", lit("")), 3, distinct = false)
      val hashes = transform(grams, g => md5(g))
      val nWin = size(hashes) - 4 + 1
      val mins = when(nWin >= 1,
          transform(sequence(lit(1), greatest(nWin, lit(1))),
            i => array_min(slice(hashes, i, lit(4)))))
        .when(size(hashes) > 0, array(array_min(hashes)))
        .otherwise(array().cast("array<string>"))
      df.select($"doc_id", array_distinct(mins).as("fps"))
        .as[(Long, Seq[String])].collect().toMap
    }
    val sets = fpSets(docs)
    // the winnowing guarantee: the shared 7-word span (≥ w+n-1) must
    // contribute at least one COMMON selected fingerprint to both docs
    assert(sets(1L).toSet.intersect(sets(2L).toSet).nonEmpty,
      "copied span selected no common fingerprint")
    assert(sets(3L).isEmpty && sets(5L).isEmpty)
    assert(sets(4L).size === 1) // fewer grams than the window → overall min
    // the query surface agrees with the inlined construction
    val m = TextAnalysis.winnowFingerprints(docs, $"text")
    val q = docs.select($"doc_id", m("n_fp").as("n")).as[(Long, Long)].collect().toMap
    assert(q(1L) === sets(1L).size.toLong && q(3L) === 0L && q(4L) === 1L)
  }

  test("winnow pairs: copied-span docs collide; disjoint docs don't; threshold filters") {
    import graft.functions.NearDup
    val span = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    val docs = Seq(
      (1L, s"first preamble text $span ending one two three"),
      (2L, s"other opener words $span closing tail entirely different"),
      (3L, "no overlap at all with anything else in this corpus today"))
      .toDF("doc_id", "text")
    val pairs = NearDup.winnowCandidatePairs(docs, "text", "doc_id")
      .select($"id_a", $"id_b", $"n_shared").as[(Long, Long, Long)].collect()
    assert(pairs.map(p => (p._1, p._2)).toSet === Set((1L, 2L)), pairs.mkString(";"))
    assert(pairs.head._3 >= 1L)
    // raising minShared above the observed count drops the pair
    val none = NearDup.winnowCandidatePairs(docs, "text", "doc_id",
      minShared = pairs.head._3 + 1)
    assert(none.isEmpty)
  }

  test("append token offsets: incremental epochs equal the full recompute") {
    import graft.functions.Corpus
    val old = Seq((1L, 0L, 1L, 10L), (2L, 1L, 1L, 5L)).toDF("id", "shard", "pos", "tc")
    val batch = Seq((3L, 0L, 1L, 7L), (4L, 1L, 1L, 2L)).toDF("id", "shard", "pos", "tc")
    val oldIdx = Corpus.tokenOffsets(old, "shard", "pos", $"tc")
    val total = oldIdx.agg(sum($"n_tokens")).collect()(0).getLong(0)
    assert(total === 15L)
    val appended = Corpus.appendTokenOffsets(batch, "shard", "pos", $"tc", total)
      .select($"id", $"start_offset").as[(Long, Long)].collect().toMap
    // full recompute over the union in (epoch, shard, pos) order:
    // 1(10)@0, 2(5)@10, 3(7)@15, 4(2)@22
    assert(appended === Map(3L -> 15L, 4L -> 22L))
    // second append continues from the new total without touching epoch 0
    val total2 = total + 9L
    val b2 = Corpus.appendTokenOffsets(
      Seq((5L, 0L, 1L, 1L)).toDF("id", "shard", "pos", "tc"),
      "shard", "pos", $"tc", total2)
      .select($"start_offset").as[Long].collect().head
    assert(b2 === 24L)
  }

  test("temperature weights: alpha=1 reproduces observed mix, alpha flattens toward uniform") {
    import graft.functions.Corpus
    val docs = Seq(
      (1L, "a", 90L), (2L, "b", 9L), (3L, "c", 1L))
      .toDF("id", "lang", "tc")
    def w(alpha: Double) =
      Corpus.temperatureWeights(docs, Seq("lang"), $"tc", alpha)
        .select($"lang", $"target_share", $"weight")
        .as[(String, Double, Double)].collect()
        .map(r => r._1 -> ((r._2, r._3))).toMap
    // alpha = 1: target == observed, every weight 1
    val w1 = w(1.0)
    assert(w1("a")._1 === 0.9 && w1("b")._1 === 0.09 && w1("c")._1 === 0.01)
    assert(Seq("a", "b", "c").forall(l => math.abs(w1(l)._2 - 1.0) < 1e-6))
    // alpha = 0.3: low-resource boosted, dominant shed, order preserved
    val w3 = w(0.3)
    assert(w3("c")._1 > 0.01 && w3("c")._2 > 1.0, s"c must be boosted: $w3")
    assert(w3("a")._1 < 0.9 && w3("a")._2 < 1.0, s"a must shed: $w3")
    assert(w3("a")._1 > w3("b")._1 && w3("b")._1 > w3("c")._1) // order kept
    // shares sum to 1 after flattening
    assert(math.abs(w3.values.map(_._1).sum - 1.0) < 1e-5)
    // zero-token stratum: NULL weight, zero target share (q62 contract)
    val z = Corpus.temperatureWeights(
        docs.union(Seq((4L, "z", 0L)).toDF("id", "lang", "tc")),
        Seq("lang"), $"tc", 0.3)
      .filter($"lang" === "z")
      .select($"target_share", $"weight").collect().head
    assert(z.getDouble(0) === 0.0 && z.isNullAt(1))
  }

  test("padding audit: length-sorted batching strictly beats arrival order on mixed lengths") {
    import graft.functions.Corpus
    // one shard, batch=2: lengths 10,10,1,1 — arrival order (10,1)(10,1)
    // pays 9+9 padding; by-length (10,10)(1,1) pays 0
    val df = Seq(
      (1L, 0L, 10L), (2L, 0L, 1L), (3L, 0L, 10L), (4L, 0L, 1L))
      .toDF("id", "shard", "len")
    val out = Corpus.paddingAudit(df, "shard", "id", $"len", batchSize = 2)
      .select($"policy", $"n_batches", $"payload_tokens", $"padding_tokens")
      .as[(String, Long, Long, Long)].collect().map(r => r._1 -> r).toMap
    assert(out("by_length") === (("by_length", 2L, 22L, 0L)))
    assert(out("arrival") === (("arrival", 2L, 22L, 18L)))
    // short final batch pads to its own max only: 3 rows, batch=2 →
    // batches (10,7) and (3): padding 3 + 0
    val odd = Seq((1L, 0L, 10L), (2L, 0L, 7L), (3L, 0L, 3L)).toDF("id", "shard", "len")
    val o = Corpus.paddingAudit(odd, "shard", "id", $"len", batchSize = 2)
      .filter($"policy" === "by_length")
      .select($"n_batches", $"padding_tokens").as[(Long, Long)].collect().head
    assert(o === ((2L, 3L)))
  }

  test("unicode normalization: composes, decomposes, compatibility-folds, null-safe") {
    import graft.plans.GraftFunctions
    val df = Seq(
      (1L, "café"),       // decomposed é → NFC composes to U+00E9
      (2L, "café"),             // already composed → unchanged (fast path)
      (3L, "ﬁne"),              // U+FB01 ligature: NFC keeps, NFKC folds to "fi"
      (4L, "plain ascii"),
      (5L, null)
    ).toDF("id", "s")
    def norm(form: String) =
      df.select($"id", GraftFunctions.unicodeNormalize(df, $"s", form).as("n"))
        .as[(Long, Option[String])].collect().toMap
    val nfc = norm("NFC")
    assert(nfc(1L) === Some("café") && nfc(1L).get.length === 4)
    assert(nfc(2L) === Some("café"))
    assert(nfc(3L) === Some("ﬁne")) // canonical form keeps compatibility chars
    assert(nfc(4L) === Some("plain ascii"))
    assert(nfc(5L) === None)
    val nfkc = norm("NFKC")
    assert(nfkc(3L) === Some("fine")) // compatibility fold expands the ligature
    val nfd = norm("NFD")
    assert(nfd(2L).get.length === 5) // é decomposes back to e + U+0301
    // unknown form rejected at construction
    intercept[IllegalArgumentException] {
      graft.plans.UnicodeNormalize(
        org.apache.spark.sql.catalyst.expressions.Literal("x"), "NFX")
    }
  }

  test("token offsets: two-level prefix sum equals the global ordered cumsum") {
    import graft.functions.Corpus
    // 3 shards, explicit positions, known counts — offsets must equal the
    // running total in (shard, pos) order regardless of input partitioning
    val rows = Seq(
      (1L, 0L, 1L, 10L), (2L, 0L, 2L, 5L),
      (3L, 1L, 1L, 7L),
      (4L, 2L, 1L, 3L), (5L, 2L, 2L, 0L), (6L, 2L, 3L, 4L))
    val df = rows.toDF("id", "shard", "pos", "tc").repartition(5)
    val out = Corpus.tokenOffsets(df, "shard", "pos", $"tc")
      .select($"id", $"n_tokens", $"start_offset")
      .as[(Long, Long, Long)].collect().sortBy(_._1)
    assert(out === Seq(
      (1L, 10L, 0L), (2L, 5L, 10L),
      (3L, 7L, 15L),
      (4L, 3L, 22L), (5L, 0L, 25L), (6L, 4L, 25L)))
    // empty-shard gaps don't exist by construction; an empty input is fine
    val empty = Corpus.tokenOffsets(
      Seq.empty[(Long, Long, Long, Long)].toDF("id", "shard", "pos", "tc"),
      "shard", "pos", $"tc")
    assert(empty.count() === 0)
  }

  test("weighted sample: heavy weights dominate, zero excluded, deterministic") {
    import graft.functions.Corpus
    val rows = (1L to 50L).map(i => (i, 100L)) ++
      (51L to 100L).map(i => (i, 1L)) :+ ((101L, 0L))
    val df = rows.toDF("doc_id", "w")
    val out = Corpus.weightedSample(df, "doc_id", $"w", k = 10, salt = "s")
      .as[(Long, Double, Double)].collect()
    assert(out.length === 10)
    // weight 0 can never be drawn; 100x weights should take nearly every slot
    assert(!out.exists(_._1 === 101L))
    assert(out.count(_._2 === 100.0) >= 8, s"heavy docs took ${out.count(_._2 === 100.0)}/10")
    // same (id, salt, w) -> same sample on any partitioning
    val again = Corpus.weightedSample(df.repartition(13), "doc_id", $"w", 10, "s")
      .as[(Long, Double, Double)].collect()
    assert(out.map(_._1).toSet === again.map(_._1).toSet)
    // FRACTIONAL weights are first-class (quality scores, mixture ratios):
    // an all-sub-1.0-weight corpus still yields k rows, and a 10x weight
    // ratio dominates the same way integral weights do — no truncation
    val frac = ((1L to 30L).map(i => (i, 0.9)) ++ (31L to 60L).map(i => (i, 0.09)))
      .toDF("doc_id", "w")
    val fout = Corpus.weightedSample(frac, "doc_id", $"w", k = 10, salt = "s")
      .as[(Long, Double, Double)].collect()
    assert(fout.length === 10, "fractional weights must not empty the sample")
    assert(fout.count(_._2 === 0.9) >= 8,
      s"heavy fractional docs took ${fout.count(_._2 === 0.9)}/10")
  }

  test("cluster cohesion: tight separated clusters read high intra, low inter") {
    import graft.functions.Similarity
    // cluster 0 hugs e_x, cluster 1 hugs e_y (slight jitter), orthogonal
    val rows =
      (1 to 5).map(i => (Array(1.0f, 0.02f * i, 0f), 0)) ++
      (1 to 5).map(i => (Array(0.02f * i, 1.0f, 0f), 1))
    val df = rows.toDF("embedding", "label")
    val out = Similarity.clusterCohesion(df, "embedding", "label")
      .as[(Int, Long, Double, Double)].collect().map(r => r._1 -> r).toMap
    assert(out(0)._2 === 5L && out(1)._2 === 5L)
    // members sit on their centroid; the two centroids are near-orthogonal
    assert(out(0)._3 > 0.99 && out(1)._3 > 0.99, s"intra: $out")
    assert(out(0)._4 < 0.15 && out(1)._4 < 0.15, s"inter: $out")
    // a smeared third cluster is measurably less cohesive
    val noisy = rows ++ Seq((Array(1f, 0f, 0f), 2), (Array(0f, 0f, 1f), 2))
    val out2 = Similarity.clusterCohesion(noisy.toDF("embedding", "label"),
      "embedding", "label").as[(Int, Long, Double, Double)].collect()
      .map(r => r._1 -> r).toMap
    assert(out2(2)._3 < 0.8, s"smeared cluster should be loose: ${out2(2)}")
    // single-label corpus: no inter pairs exist — keep the label with a
    // NULL max_inter_cos instead of silently dropping it
    val solo = Similarity.clusterCohesion(
      rows.take(5).toDF("embedding", "label"), "embedding", "label").head()
    assert(solo.getInt(0) === 0 && solo.getLong(1) === 5L && solo.isNullAt(3))
  }

  test("snapshot diff: all four statuses, null-safe content compare") {
    import graft.operators.Merge
    val oldSnap = Seq((1L, Some("a")), (2L, Some("b")), (3L, Some("gone")),
      (5L, None: Option[String])).toDF("id", "content")
    val newSnap = Seq((1L, Some("a")), (2L, Some("B2")), (4L, Some("new")),
      (5L, None: Option[String])).toDF("id", "content")
    val out = Merge.snapshotDiff(oldSnap, newSnap, "id", "content")
      .as[(Long, String)].collect().toMap
    assert(out === Map(1L -> "unchanged", 2L -> "changed", 3L -> "removed",
      4L -> "added", 5L -> "unchanged"))
  }

  test("near-dup pressure: the mirroring source reads a positive rate") {
    val base = "alpha beta gamma delta epsilon zeta eta theta iota kappa " +
      "lambda mu nu xi omicron pi rho sigma tau upsilon"
    val rows =
      // source m: two near-identical docs + one unique
      Seq((1L, "m", base), (2L, "m", base + " extra"),
        (3L, "m", "totally different words one two three four five six seven")) ++
      // source u: all unique
      Seq((4L, "u", "red orange yellow green blue indigo violet colors here now"),
        (5L, "u", "solar lunar stellar orbit comet nebula quasar pulsar nova void"))
    val out = NearDup.nearDupPressure(rows.toDF("doc_id", "source", "text"),
      "text", "doc_id", "source", n = 3, k = 32, bands = 8, minJaccard = 0.1)
      .as[(String, Long, Long, Double)].collect().map(r => r._1 -> r).toMap
    assert(out("m")._2 === 3L && out("m")._3 === 2L)
    assert(math.abs(out("m")._4 - 2.0 / 3) < 1e-5)
    assert(out("u")._3 === 0L && out("u")._4 === 0.0)
  }

  test("ngram novelty: copies score zero, unique text scores one, short is null") {
    import graft.functions.Corpus
    val shared = "one two three four five six"
    val docs = Seq((1L, shared), (2L, shared),
      (3L, "totally fresh words never repeated anywhere"),
      (4L, "too short")).toDF("doc_id", "text")
    val out = Corpus.ngramNovelty(docs, "text", "doc_id", n = 3)
      .as[(Long, Long, Option[Double])].collect().map(r => r._1 -> r).toMap
    // docs 1/2 share every 3-gram -> novelty 0; doc 3 is all-unique -> 1
    assert(out(1L)._3.contains(0.0) && out(2L)._3.contains(0.0))
    assert(out(3L)._3.contains(1.0))
    // 2 tokens -> no 3-grams -> n_grams 0, null novelty
    assert(out(4L)._2 === 0L && out(4L)._3.isEmpty)
  }

  test("rule audit: one-pass suite, null predicate counts as violation") {
    import graft.operators.Audit
    val df = Seq((1L, Some(5.0), "ok"), (2L, Some(-1.0), "ok"),
      (3L, None: Option[Double], "bad"), (4L, Some(2.0), "ok"))
      .toDF("id", "v", "tag")
    val out = Audit.ruleAudit(df, Seq(
      "v_non_negative" -> ($"v" >= 0),            // null v -> violation
      "v_present_or_tagged" -> ($"v".isNotNull || $"tag" === "bad"),
      "tag_ok" -> ($"tag" === "ok")))
      .as[(String, Long, Long, Double)].collect().map(r => r._1 -> r).toMap
    assert(out("v_non_negative") === (("v_non_negative", 4L, 2L, 0.5)))
    assert(out("v_present_or_tagged")._3 === 0L)
    assert(out("tag_ok")._3 === 1L && out("tag_ok")._4 === 0.25)
  }

  test("ref integrity: orphans counted per edge, null child key orphans") {
    import graft.operators.Audit
    val parent = Seq(1L, 2L, 3L).toDF("pk")
    val child = Seq(Some(1L), Some(1L), Some(9L), None).toDF("fk")
    val out = Audit.refIntegrity(Seq(("c_p", child, "fk", parent, "pk")))
      .as[(String, Long, Long, Double)].collect()
    assert(out.toSeq === Seq(("c_p", 4L, 2L, 0.5)))
    // shared-child form: one scan, same counts per edge
    val pa = Seq(1L, 2L).toDF("a")
    val pb = Seq(10L, 20L).toDF("b")
    val fact = Seq((1L, 10L), (2L, 99L), (9L, 10L), (1L, 10L)).toDF("ka", "kb")
    val shared = Audit.refIntegrityShared(fact, Seq(
      ("f_a", "ka", pa, "a"), ("f_b", "kb", pb, "b")))
      .as[(String, Long, Long, Double)].collect().map(r => r._1 -> r).toMap
    assert(shared("f_a") === (("f_a", 4L, 1L, 0.25)))
    assert(shared("f_b") === (("f_b", 4L, 1L, 0.25)))
    // empty child table: rate is NULL (undefined), not an ANSI throw
    val emptyChild = Seq.empty[Long].toDF("fk")
    val e = Audit.refIntegrity(Seq(("e_p", emptyChild, "fk", parent, "pk"))).head()
    assert(e.getLong(1) === 0L && e.getLong(2) === 0L && e.isNullAt(3))
    val se = Audit.refIntegrityShared(emptyChild.withColumnRenamed("fk", "ka"),
      Seq(("e_a", "ka", pa, "a"))).head()
    assert(se.getLong(1) === 0L && se.getLong(2) === 0L && se.isNullAt(3))
  }

  test("event transitions: counts and conditional probabilities from the lag order") {
    val t0 = java.sql.Timestamp.valueOf("2024-01-10 00:00:00")
    def at(m: Int) = new java.sql.Timestamp(t0.getTime + m * 60000L)
    // user 1: a->b->a ; user 2: a->b ; user 3: a->c
    val ev = Seq(
      (1L, 10L, "a", at(1)), (2L, 10L, "b", at(2)), (3L, 10L, "a", at(3)),
      (4L, 20L, "a", at(1)), (5L, 20L, "b", at(2)),
      (6L, 30L, "a", at(1)), (7L, 30L, "c", at(2)))
      .toDF("event_id", "user_id", "event_type", "ts")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy($"user_id").orderBy($"ts".asc, $"event_id".asc)
    val out = ev.withColumn("prev_type", lag($"event_type", 1).over(w))
      .filter($"prev_type".isNotNull)
      .groupBy($"prev_type", $"event_type").agg(count(lit(1)).as("n"))
      .withColumn("p", round($"n".cast("double") /
        sum($"n").over(org.apache.spark.sql.expressions.Window
          .partitionBy($"prev_type")).cast("double"), 6))
      .as[(String, String, Long, Double)].collect()
      .map(r => (r._1, r._2) -> (r._3, r._4)).toMap
    assert(out(("a", "b")) === ((2L, 0.666667)))
    assert(out(("a", "c")) === ((1L, 0.333333)))
    assert(out(("b", "a")) === ((1L, 1.0)))
    assert(out.size === 3)
  }

  test("token concentration: closed-form histogram answer matches hand computation") {
    import graft.functions.Corpus
    // lengths 10, 5, 5, 1 -> total 21 tokens
    val docs = Seq(
      (1L, Seq.fill(10)("w").mkString(" ")),
      (2L, Seq.fill(5)("x").mkString(" ")),
      (3L, Seq.fill(5)("y").mkString(" ")),
      (4L, "z")).toDF("doc_id", "text")
    val out = Corpus.tokenConcentration(docs, "text", pcts = Seq(50, 90, 100))
      .as[(Long, Long, Long, Long)].collect().map(r => r._1 -> r).toMap
    // 50%: doc of 10 (1000 < 1050) + one len-5 doc -> 2 docs, 15 tokens
    assert(out(50L) === ((50L, 2L, 15L, 21L)))
    // 90%: need 18.9 -> 10 + both fives = 20 -> 3 docs
    assert(out(90L) === ((90L, 3L, 20L, 21L)))
    // 100%: every doc including the singleton
    assert(out(100L) === ((100L, 4L, 21L, 21L)))
  }

  test("unigram surprisal: rare-vocabulary docs score high, formula exact") {
    import graft.functions.Corpus
    // corpus: c_a = 5, c_b = 2 over T = 7
    val docs = Seq((1L, "a a b"), (2L, "a a a b")).toDF("doc_id", "text")
    val out = Corpus.unigramSurprisal(docs, "text", "doc_id")
      .as[(Long, Long, Double)].collect().map(r => r._1 -> r).toMap
    def r10(x: Double) = BigDecimal(x).setScale(10, BigDecimal.RoundingMode.HALF_UP)
    val exp1 = ((r10(2.0 * -math.log(5.0 / 7)) + r10(1.0 * -math.log(2.0 / 7))) / 3)
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    assert(out(1L)._2 === 3L)
    assert(math.abs(out(1L)._3 - exp1) < 2e-6, s"got ${out(1L)._3}, want $exp1")
    // a doc made of hapaxes reads far more surprising than common text
    val mix = (Seq.fill(10)((10L, "common words here again")) :+
      ((99L, "xylophone quagmire zeppelin"))).zipWithIndex
      .map { case ((_, t), i) => (i.toLong, t) }.toDF("doc_id", "text")
    val scored = Corpus.unigramSurprisal(mix, "text", "doc_id")
      .as[(Long, Long, Double)].collect().map(r => r._1 -> r._3).toMap
    assert(scored(10L) > 2 * scored(0L), s"hapax doc should alarm: $scored")
  }

  test("vocab coverage: frequency-histogram closed form matches hand computation") {
    import graft.functions.Corpus
    // frequencies: x=6, y=3, z=1 -> 10 instances
    val docs = Seq((1L, "x x x x x x y y y z")).toDF("doc_id", "text")
    val out = Corpus.vocabCoverage(docs, "text", pcts = Seq(90, 100))
      .as[(Long, Long, Long, Long)].collect().map(r => r._1 -> r).toMap
    // 90%: x (6) + y (9 >= 9) -> 2 types, 9 instances
    assert(out(90L) === ((90L, 2L, 9L, 10L)))
    assert(out(100L) === ((100L, 3L, 10L, 10L)))
  }

  test("k-fold assignment: folds in range, all populated, stable under growth") {
    import graft.functions.Corpus
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val folds = Corpus.kFoldAssign(docs, "doc_id", k = 5, salt = "cv")
      .select($"doc_id", $"fold").as[(Long, Long)].collect().toMap
    assert(folds.values.forall(f => f >= 0 && f < 5))
    val byFold = folds.values.groupBy(identity).view.mapValues(_.size)
    assert(byFold.size === 5, s"empty folds: $byFold")
    // ~100 docs per fold on 500; any fold further than 40% off uniform
    // would indicate a broken hash, not randomness
    assert(byFold.values.forall(n => n > 60 && n < 140), byFold.toMap.toString)
    // adding documents never moves an existing document's fold
    val grown = docs.union(docs.withColumn("doc_id", $"doc_id" + 1000000L))
    val regrown = Corpus.kFoldAssign(grown, "doc_id", k = 5, salt = "cv")
      .select($"doc_id", $"fold").as[(Long, Long)].collect().toMap
    folds.foreach { case (id, f) => assert(regrown(id) === f, s"doc $id moved") }
  }

  test("bm25: hand-computed score, tf saturation, non-matching docs absent") {
    import graft.functions.Retrieval
    val docs = Seq((1L, "cat cat dog"), (2L, "cat bird"), (3L, "fish"))
      .toDF("doc_id", "text")
    val out = Retrieval.bm25Scores(docs, "text", "doc_id", Seq("cat"))
      .as[(Long, Double)].collect().toMap
    // N=3, df=2, avgdl=2: idf = ln(1.6); doc1 tf=2 dl=3, doc2 tf=1 dl=2
    val idf = math.log((3.0 - 2.0 + 0.5) / (2.0 + 0.5) + 1.0)
    def s(tf: Double, dl: Double) =
      idf * (tf * (1.2 + 1.0)) / (tf + 1.2 * ((1.0 - 0.75) + 0.75 * dl / 2.0))
    assert(math.abs(out(1L) - s(2, 3)) < 2e-6, s"doc1: ${out(1L)} vs ${s(2, 3)}")
    assert(math.abs(out(2L) - s(1, 2)) < 2e-6)
    assert(!out.contains(3L) && out(1L) > out(2L))
  }

  test("rrf fusion: shared id outranks single-list ids, exact reciprocal sums") {
    import graft.functions.Retrieval
    val a = Seq((1L, 1L), (2L, 2L)).toDF("id", "rank")
    val b = Seq((2L, 1L), (3L, 2L)).toDF("id", "rank")
    val out = Retrieval.rrfFuse(a, b, "id").as[(Long, Double)].collect().toMap
    def r6(x: Double) = BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    assert(out(1L) === r6(1.0 / 61))
    assert(out(2L) === r6(1.0 / 62 + 1.0 / 61))
    assert(out(3L) === r6(1.0 / 62))
    assert(out(2L) > out(1L) && out(1L) > out(3L))
  }

  test("pmi collocations: bound phrases outrank frequent-but-independent pairs") {
    // "san francisco" always co-occurs; "the" pairs with everything.
    val docs = (1 to 10).map(i =>
      (i.toLong, s"the city of san francisco is the hub and the t$i spot")).toDF("doc_id", "text")
    val out = Corpus.pmiCollocations(docs, "text", k = 50, minCount = 5L)
      .as[(String, Long, Long, Long, Double, Long)].collect()
    val byGram = out.map(r => r._1 -> r).toMap
    assert(byGram.contains("san francisco"))
    // perfect collocation beats any bigram involving the promiscuous "the"
    val sf = byGram("san francisco")
    out.filter(_._1.split(" ").contains("the")).foreach { g =>
      assert(sf._5 > g._5, s"'san francisco' (${sf._5}) must outrank '${g._1}' (${g._5})")
    }
    // low-support bigrams are suppressed: every "the tN" appears once only
    assert(!byGram.keys.exists(_.matches("the t\\d+")))
    // rank is the rounded-pmi total order
    assert(out.sortBy(_._6).map(_._6).toSeq === (1L to out.length))
  }

  test("rate anomaly: spike hour flagged, steady series quiet, zero-variance dropped") {
    val base = for (h <- 0 until 24) yield ("steady", h, 1)     // constant → variance 0
    val spiky = (for (h <- 0 until 24) yield ("spiky", h, if (h == 12) 40 else 2))
    val rows = (base ++ spiky).flatMap { case (t, h, n) =>
      (1 to n).map(i => (t, f"2024-01-05 $h%02d:${i % 60}%02d:00")) }
    val ev = rows.toDF("event_type", "ts_s")
      .select($"event_type", to_timestamp($"ts_s").as("ts"))
    val hourly = ev.groupBy($"event_type", date_trunc("hour", $"ts").as("hour_ts"))
      .agg(count(lit(1)).as("n"))
    val stats = hourly.groupBy($"event_type")
      .agg(sum($"n").as("s1"), sum($"n" * $"n").as("s2"), count(lit(1)).as("c"))
    val z = hourly.join(broadcast(stats), "event_type")
      .withColumn("mean", $"s1".cast("double") / $"c".cast("double"))
      .withColumn("variance", $"s2".cast("double") / $"c".cast("double") - $"mean" * $"mean")
      .filter($"variance" > 0)
      .withColumn("z", ($"n".cast("double") - $"mean") / sqrt($"variance"))
      .filter(abs($"z") > 2.0)
      .select($"event_type", hour(col("hour_ts")).as("h"), $"z")
      .as[(String, Int, Double)].collect()
    assert(z.map(_._1).toSet === Set("spiky"))          // zero-variance series dropped
    assert(z.exists(r => r._2 == 12 && r._3 > 2.0))     // the spike itself
    assert(z.count(_._3 > 2.0) === 1)                   // and only the spike
  }

  test("heavy hitters: exact regime equals groupBy counts; sketch regime holds MG bounds") {
    import graft.plans.GraftFunctions
    // exact regime: capacity ≥ distinct tokens → counts identical to the
    // full aggregate, same (cnt desc, token) order
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val viaSketch = docs.groupBy($"lang")
      .agg(GraftFunctions.heavyHitters(docs, TextAnalysis.tokens($"text"), 64).as("hh"))
      .select($"lang", explode($"hh").as("p"))
      .select($"lang", $"p.token".as("token"), $"p.cnt".as("cnt"))
    val exact = docs.select($"lang", explode(TextAnalysis.tokens($"text")).as("token"))
      .groupBy($"lang", $"token").agg(count(lit(1)).as("cnt"))
    assert(viaSketch.exceptAll(exact).isEmpty && exact.exceptAll(viaSketch).isEmpty)

    // sketch regime: capacity 4 over an adversarial stream — 50 of 'hot'
    // plus 25 singletons across many partitions. MG guarantees the true
    // heavy hitter (freq > n/(cap+1) = 15) survives every decrement and
    // merge, with count undercounting by at most the total decrement.
    val rows = (Seq.fill(50)("hot") ++ (1 to 25).map(i => s"cold$i"))
    val stream = spark.sparkContext.parallelize(rows, 8).toDF("tok")
      .select(lit("g").as("g"), array($"tok").as("toks"))
    val hh = stream.groupBy($"g")
      .agg(GraftFunctions.heavyHitters(stream, $"toks", 4).as("hh"))
      .select(explode($"hh").as("p")).select($"p.token", $"p.cnt")
      .as[(String, Long)].collect().toMap
    assert(hh.contains("hot"), s"true heavy hitter evicted: $hh")
    assert(hh("hot") <= 50L, "MG must never overcount")
    assert(hh("hot") >= 50L - 75L / 5L, s"undercount beyond MG bound: ${hh("hot")}")
    assert(hh.size <= 4, s"capacity overflow: $hh")
  }

  test("funnel: stages require strictly increasing first times") {
    val ev = Seq(
      // u1: full ordered funnel
      (1L, "view", "2024-01-01 10:00:00"), (1L, "click", "2024-01-01 11:00:00"),
      (1L, "purchase", "2024-01-01 12:00:00"),
      // u2: purchase BEFORE click — reaches click only
      (2L, "view", "2024-01-02 10:00:00"), (2L, "purchase", "2024-01-02 10:30:00"),
      (2L, "click", "2024-01-02 11:00:00"),
      // u3: view only; u4: click with no view — never enters
      (3L, "view", "2024-01-03 10:00:00"), (4L, "click", "2024-01-03 10:00:00"))
      .toDF("user_id", "event_type", "ts_s")
      .select($"user_id", $"event_type", to_timestamp($"ts_s").as("ts"))
    val v = ev.filter($"event_type" === "view").groupBy($"user_id").agg(min($"ts").as("t_view"))
    val c = ev.filter($"event_type" === "click").join(v, "user_id")
      .filter($"ts" > $"t_view").groupBy($"user_id").agg(min($"ts").as("t_click"))
    val p = ev.filter($"event_type" === "purchase").join(c, "user_id")
      .filter($"ts" > $"t_click").groupBy($"user_id").agg(min($"ts").as("t_purchase"))
    val r = v.join(c.select($"user_id", $"t_click"), Seq("user_id"), "left")
      .join(p.select($"user_id", $"t_purchase"), Seq("user_id"), "left")
      .agg(count($"t_view").as("nv"), count($"t_click").as("nc"),
        count($"t_purchase").as("np"))
      .as[(Long, Long, Long)].head()
    assert(r === ((3L, 2L, 1L)))
  }

  test("tf-idf top terms: smoothed idf, ubiquitous tokens sink, total order") {
    val docs = Seq(
      (1L, "en", "alpha alpha common"),
      (2L, "en", "beta common"),
      (3L, "de", "gamma common")).toDF("doc_id", "lang", "text")
    val out = Corpus.tfIdfTopTerms(docs, "text", "doc_id", "lang", k = 10)
      .as[(String, String, Long, Long, Double, Long)].collect()
      .map(r => (r._1, r._2) -> (r._3, r._4, r._5, r._6)).toMap
    // alpha: cnt 2, df 1 → 2·ln(4/2); common: df 3 → ln(4/4) = 0 weight
    assert(out(("en", "alpha")) ===
      ((2L, 1L, math.round(2 * math.log(2.0) * 1e6) / 1e6, 1L)))
    assert(out(("en", "common"))._3 === 0.0)
    assert(out(("de", "gamma"))._2 === 1L)
    // within a lang, ranks are dense and ordered by (weight desc, token)
    val en = Corpus.tfIdfTopTerms(docs, "text", "doc_id", "lang", k = 10)
      .filter($"lang" === "en").orderBy($"rnk")
      .as[(String, String, Long, Long, Double, Long)].collect()
    assert(en.map(_._6).toSeq === (1L to en.length))
    assert(en.sliding(2).forall { case Array(a, b) =>
      a._5 > b._5 || (a._5 == b._5 && a._2 < b._2); case _ => true })
  }

  test("quality gate: each verdict branch fires, first-failure order holds") {
    val filler = (1 to 30).map(i => s"w$i").mkString(" ")  // healthy tail
    val docs = Seq(
      (1L, s"good document $filler extra words to stay clear of thresholds"),
      (2L, "tiny doc"),                                     // too_short
      (3L, ("spam ham " * 40) + filler),                    // top-2-gram heavy
      (4L, null.asInstanceOf[String]))                      // null ≡ empty → too_short
      .toDF("doc_id", "text")
    val got = docs.select($"doc_id",
        TextAnalysis.qualityVerdict(docs, $"text").as("v"))
      .as[(Long, String)].collect().toMap
    assert(got(1L) === "keep")
    assert(got(2L) === "too_short")
    assert(got(3L) === "repetitive_2gram")
    assert(got(4L) === "too_short")
    // first-failure order: a doc that is BOTH short and repetitive reports
    // too_short (check order is the contract)
    val both = Seq((9L, "x x x x")).toDF("doc_id", "text")
    val r = both.select(TextAnalysis.qualityVerdict(both, $"text")).head().getString(0)
    assert(r === "too_short")
  }

  test("int8 quant: hand-checked codes, zero/empty vectors, mse bound") {
    val df = Seq(
      (1L, Seq(1.0, -0.5, 0.25)),
      (2L, Seq(0.0, 0.0)),
      (3L, Seq.empty[Double]))
      .toDF("vec_id", "v")
    val st = graft.plans.GraftFunctions.int8QuantStats(df, $"v")
    val out = df.select($"vec_id", st.getField("scale").as("s"),
        st.getField("code_sum").as("cs"), st.getField("mse").as("m"))
      .as[(Long, Double, Long, Double)].collect().map(t => t._1 -> (t._2, t._3, t._4)).toMap
    // codes: 1.0→127, -0.5→floor(-63.5+0.5)=-63, 0.25→floor(31.75+0.5)=32
    assert(out(1L)._1 === 1.0)
    assert(out(1L)._2 === (127L - 63L + 32L))
    assert(out(2L) === ((0.0, 0L, 0.0)))
    assert(out(3L) === ((0.0, 0L, 0.0)))
    // reconstruction on real embeddings: step = scale/127, so per-dim error
    // <= step/2 and mse <= step²/4 — the bound int8 storage is sold on
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val q = graft.plans.GraftFunctions.int8QuantStats(emb,
      $"embedding".cast("array<double>"))
    val bad = emb.select(q.getField("scale").as("s"), q.getField("mse").as("m"))
      .filter($"m" > ($"s" / 127.0) * ($"s" / 127.0) / 4.0 + lit(1e-12)).count()
    assert(bad === 0)
  }

  test("dup spans: cross-doc and within-doc windows flagged, short docs null frac") {
    // k=3 windows; doc1/doc2 share "a b c"; doc3's "x y z" repeats within
    // itself (both occurrences dup); doc4 distinct; doc5 too short (2 toks)
    val docs = Seq(
      (1L, "a b c d"),          // windows: [a b c][b c d]; first is shared
      (2L, "z a b c"),          // windows: [z a b][a b c]; second is shared
      (3L, "x y z q x y z"),    // [x y z] at 1 and 5 — within-doc dup pair
      (4L, "p q r s"),          // all unique
      (5L, "u v")).toDF("doc_id", "text")
    val out = NearDup.dupSpanStats(docs, "text", "doc_id", k = 3)
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), Option(r.get(3)).map(_.asInstanceOf[Double]))))
      .toMap
    assert(out(1L) === ((2L, 1L, Some(0.5))))
    assert(out(2L) === ((2L, 1L, Some(0.5))))
    // doc3: 5 windows, the two [x y z] occurrences are each duplicated
    assert(out(3L) === ((5L, 2L, Some(0.4))))
    assert(out(4L) === ((2L, 0L, Some(0.0))))
    assert(out(5L) === ((0L, 0L, None)))
  }

  test("incremental profile: merged batch states equal the direct profile, any chunking") {
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val tc = TextAnalysis.tokenCount(coalesce($"text", lit("")))
    val direct = Corpus.profileFinish(
      Corpus.profileState(docs, Seq("lang"), tc), Seq("lang"))
    // three uneven batches merged must be bit-identical to the one-shot
    // profile — the monoid-append identity incremental maintenance rests on
    val chunks = Seq(0, 1, 2).map(i => docs.filter($"doc_id" % 3 === i))
    val merged = Corpus.profileFinish(Corpus.profileMerge(
      chunks.map(c => Corpus.profileState(c, Seq("lang"), tc)), Seq("lang")),
      Seq("lang"))
    assert(direct.exceptAll(merged).isEmpty && merged.exceptAll(direct).isEmpty)
    // sanity on the finished values for one hand-computable group
    val two = Seq(("en", 2L), ("en", 4L)).toDF("lang", "n_tok")
    val r = Corpus.profileFinish(
      Corpus.profileState(two, Seq("lang"), $"n_tok"), Seq("lang")).head()
    assert(r.getLong(1) === 2L && r.getLong(2) === 6L)
    assert(r.getDouble(3) === 3.0 && r.getDouble(4) === 1.0) // mean 3, popvar 1
    assert(r.getLong(5) === 2L && r.getLong(6) === 4L)
  }

  test("budgetSelect: greedy prefix equals the naive global-window form") {
    // priority (score desc, id asc); budget = 2/5 of 60 total = 24 tokens:
    // picks id2(s9,t10) cum10, id5(s9,t8) cum18, id1(s7,t6) cum24 — id4
    // (s7 but larger id, t20) overflows, and everything after is out too
    val docs = Seq(
      (1L, 6L, 7L), (2L, 10L, 9L), (3L, 16L, 3L),
      (4L, 20L, 7L), (5L, 8L, 9L)).toDF("doc_id", "n_tokens", "score")
    val kept = Corpus.budgetSelect(docs, "doc_id", $"n_tokens", $"score", 2, 5)
      .orderBy($"cum_tokens").collect().map(r => (r.getLong(0), r.getLong(3)))
    assert(kept.toSeq === Seq((2L, 10L), (5L, 18L), (1L, 24L)))
    // equivalence against the naive single-partition window on real data
    val real = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .select($"doc_id", TextAnalysis.tokenCount($"text").cast("long").as("n_tokens"),
        (TextAnalysis.tokenCount($"text") % 17).cast("long").as("score"))
      .filter($"n_tokens" > 0)
    val fast = Corpus.budgetSelect(real, "doc_id", $"n_tokens", $"score", 1, 3)
    val w = org.apache.spark.sql.expressions.Window
      .orderBy($"score".desc, $"doc_id".asc)
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)
    val total = real.agg(sum($"n_tokens")).head().getLong(0)
    val naive = real.withColumn("cum_tokens", sum($"n_tokens").over(w))
      .filter($"cum_tokens" <= lit(total / 3))
      .select($"doc_id", $"score", $"n_tokens", $"cum_tokens")
    assert(fast.exceptAll(naive).isEmpty && naive.exceptAll(fast).isEmpty)
  }

  test("epochPlan: cap binds tiny strata, planned tokens derive from rounded epochs") {
    val docs = Seq.fill(90)(("en", 100L)) ++ Seq.fill(2)(("mi", 5L))
    val out = Corpus.epochPlan(docs.toDF("lang", "n_tok"), Seq("lang"), $"n_tok",
      alpha = 0.3, budgetTokens = 9000L, maxEpochs = 4.0)
      .collect().map(r => r.getString(0) ->
        ((r.getLong(2), r.getDouble(4), r.getLong(5)))).toMap
    // the 10-token stratum would get far more than 4 epochs from its
    // flattened share — the cap must bind, and planned = floor(4.0 * 10)
    assert(out("mi")._1 === 10L && out("mi")._2 === 4.0 && out("mi")._3 === 40L)
    val en = out("en")
    assert(en._1 === 9000L && en._2 < 4.0 && en._2 > 0.0)
    assert(en._3 === math.floor(en._2 * 9000.0).toLong)
  }

  test("kAnonymize: ladder generalizes just far enough; published prefixes crowd >= k") {
    // (src, lang): A/en x5 passes whole; A/de x2 coarsens lang (A total 7);
    // B/en x1 coarsens lang, but B total 1 < 3 -> fully suppressed
    val rows = Seq.fill(5)(("A", "en")) ++ Seq.fill(2)(("A", "de")) ++ Seq(("B", "en"))
    val df = rows.zipWithIndex.map { case ((s, l), i) => (i.toLong, s, l) }
      .toDF("id", "src", "lang")
    val out = Privacy.kAnonymize(df, "id",
      Seq("src" -> $"src", "lang" -> $"lang"), k = 3)
    val byLevel = out.groupBy($"anon_level").count().collect()
      .map(r => r.getInt(0) -> r.getLong(1)).toMap
    assert(byLevel === Map(0 -> 5L, 1 -> 2L, 2 -> 1L))
    assert(out.filter($"anon_level" === 1 && ($"src" =!= "A" || $"lang" =!= "*"))
      .isEmpty)
    assert(out.filter($"anon_level" === 2 && ($"src" =!= "*" || $"lang" =!= "*"))
      .isEmpty)
    // the k-anonymity property itself, checked mechanically on real data:
    // every published (non-*) prefix is shared by >= k corpus rows
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val anon = Privacy.kAnonymize(docs, "doc_id",
      Seq("source" -> $"source", "lang" -> $"lang",
        "len_band" -> floor($"n_chars".cast("double") / lit(200.0)).cast("long")),
      k = 5)
    // level is a function of the base tuple, so every fully-published
    // triple's count IS its corpus crowd — must reach k
    val crowd = anon
      .filter($"source" =!= "*" && $"lang" =!= "*" && $"len_band" =!= "*")
      .groupBy($"source", $"lang", $"len_band").count().filter($"count" < 5)
    assert(crowd.isEmpty, crowd.collect().mkString("; "))
    val prefixOk = anon.select($"source").filter($"source" =!= "*")
      .groupBy($"source").count().filter($"count" < 5)
    assert(prefixOk.isEmpty, prefixOk.collect().mkString("; "))
    assert(anon.count() === docs.count())
  }

  test("rankingMetrics: hand-checkable recall/MRR/nDCG at k") {
    // corpus: d1 contains both terms twice (top score), d2 both once,
    // d3 only 'spark' (scored but NOT relevant), d4 neither (absent)
    val docs = Seq(
      (1L, "spark join spark join fast"),
      (2L, "spark join slow"),
      (3L, "spark only here"),
      (4L, "nothing at all")).toDF("doc_id", "text")
    val m = Retrieval.rankingMetrics(docs, "text", "doc_id",
      Seq("q" -> Seq("spark", "join")), k = 2).head()
    assert(m.getString(0) === "q")
    assert(m.getLong(1) === 2L) // n_rel: d1, d2
    assert(m.getLong(2) === 2L) // both ranked in top-2
    assert(m.getDouble(3) === 1.0) // recall
    assert(m.getDouble(4) === 1.0) // first hit at rank 1
    assert(m.getDouble(5) === 1.0) // ideal ordering -> nDCG 1
    // drop d2 out of the cutoff: k=1 sees only d1 -> recall 1/2, nDCG =
    // g(1)/(g(1)+g(2)) with the quantized gain table
    val m1 = Retrieval.rankingMetrics(docs, "text", "doc_id",
      Seq("q" -> Seq("spark", "join")), k = 1).head()
    assert(m1.getLong(2) === 1L && m1.getDouble(4) === 1.0)
    assert(m1.getDouble(3) === 0.5)
    val g = Retrieval.dcgGains(2)
    val expected = math.floor(g(0).toDouble / g(0).toDouble * 1e6 + 0.5) / 1e6
    assert(m1.getDouble(5) === expected) // idcg truncates at k -> 1.0 here
  }

  test("rankNormalize: per-stratum percentiles, id tiebreak, 1-row stratum pins 0") {
    val df = Seq(
      (1L, "A", 10L), (2L, "A", 30L), (3L, "A", 20L), (4L, "A", 20L),
      (5L, "B", 99L)).toDF("id", "src", "sc")
    val out = Corpus.rankNormalize(df, Seq("src"), $"sc", "id")
      .select($"id", $"pct").as[(Long, Double)].collect().toMap
    // A ranks: 10<20(id3)<20(id4)<30 -> pcts 0, 1/3, 2/3, 1
    def r6(x: Double) = math.floor(x * 1e6 + 0.5) / 1e6
    assert(out(1L) === 0.0 && out(3L) === r6(1.0 / 3) &&
      out(4L) === r6(2.0 / 3) && out(2L) === 1.0)
    assert(out(5L) === 0.0) // singleton stratum
  }

  test("bigramSurprisal: memorized transitions score zero, rare ones ln(c1/cb)") {
    val docs = Seq(
      (1L, "a b a b a b"), // every transition deterministic given w1
      (2L, "a c"),         // a->c once among 4 a-starts
      (3L, "z")).toDF("doc_id", "text") // single token: no bigrams, absent
    val out = Corpus.bigramSurprisal(docs, "text", "doc_id")
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getDouble(2)))).toMap
    // doc1: c(a b)=3 over c(a.)=4 -> -ln(3/4); c(b a)=2 over c(b.)=2 -> 0;
    // mean over 5 bigrams, through the exact engine formula (quantize the
    // SIGNED ln first, negate the integer sum after — mirroring the plan)
    val lnq34 = math.floor(math.log(3.0 / 4.0) * 1e10 + 0.5)
    def r6(x: Double) = math.floor(x * 1e6 + 0.5) / 1e6
    assert(out(1L)._1 === 5L)
    assert(out(1L)._2 === r6(-(3.0 * lnq34) / 1e10 / 5.0))
    // doc2: p(c|a) = 1/4 -> ln 4
    val lnq14 = math.floor(math.log(1.0 / 4.0) * 1e10 + 0.5)
    assert(out(2L) === ((1L, r6(-lnq14 / 1e10))))
    assert(!out.contains(3L))
  }

  test("cross-group near-dup pairs: only cross-language pairs survive the label filter") {
    val vecs = Seq(
      (1L, Array(1f, 0f, 0f, 0f)),
      (2L, Array(0.99f, 0.1f, 0f, 0f)),  // ~dup of 1, other lang
      (3L, Array(0.98f, 0.15f, 0f, 0f)), // ~dup of 1, SAME lang as 1
      (4L, Array(0f, 1f, 0f, 0f))).toDF("vec_id", "embedding")
    val langs = Seq((1L, "en"), (2L, "de"), (3L, "en"), (4L, "fr"))
      .toDF("doc_id", "lang")
    val pairs = Similarity.cosineNearDupPairsLsh(vecs, minCosine = 0.9, dim = 4)
    val cross = pairs
      .join(langs.withColumnsRenamed(Map("doc_id" -> "id_a", "lang" -> "lang_a")), Seq("id_a"))
      .join(langs.withColumnsRenamed(Map("doc_id" -> "id_b", "lang" -> "lang_b")), Seq("id_b"))
      .filter($"lang_a" =!= $"lang_b")
      .select($"id_a", $"id_b").as[(Long, Long)].collect().toSet
    // (1,3) is a near-dup but same-language; (1,2) and (2,3) cross
    assert(cross === Set((1L, 2L), (2L, 3L)))
  }

  test("canonicalize: case, punctuation, whitespace runs, null text") {
    val df = Seq(
      ("Hello, World!!", "hello world"),
      ("  a--b  c  ", "a b c"),
      ("ALL CAPS 42", "all caps 42"),
      (null.asInstanceOf[String], ""),
      ("...", "")).toDF("text", "expected")
    val bad = df.filter(TextAnalysis.canonicalize($"text") =!= $"expected")
    assert(bad.isEmpty, bad.collect().mkString("; "))
    // canonical hash merges case/punct variants the raw hash keeps apart
    val pair = Seq("The cat.", "the CAT").toDF("text")
    assert(pair.select(sha2(TextAnalysis.canonicalize($"text"), 256))
      .distinct().count() === 1)
    assert(pair.select(sha2($"text", 256)).distinct().count() === 2)
  }

  test("portable relational HLL (q143): corrected estimate tracks exact distinct") {
    // the query's driver-checked output is the exact integer sketch state
    // + the raw αm²/S estimate; the small-range linear-counting branch
    // (m·ln(m/V), engine-libm ln so not oracle-portable) applies here,
    // caller-side, exactly as a consumer would
    Seq("sf0.001", "sf0.01").foreach { sf =>
      val dir = s"/root/testdata/$sf"
      val out = SparkEntry.queries("q143_hll_relational")(spark, dir)
        .collect().map(r => (r.getAs[String]("event_type"),
          r.getAs[Long]("n_zero_registers"), r.getAs[Long]("est_raw_e6")))
      val exact = spark.read.parquet(s"$dir/events.parquet")
        .groupBy($"event_type")
        .agg(org.apache.spark.sql.functions.countDistinct($"user_id").as("d"))
        .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
      out.foreach { case (et, v, e6) =>
        val raw = e6 / 1e6
        val est = if (v > 0 && raw <= 2.5 * 256) 256.0 * math.log(256.0 / v)
                  else raw
        val d = exact(et).toDouble
        assert(math.abs(est - d) / d <= 0.20,
          s"$sf/$et: corrected HLL $est vs exact $d drifted past 20%")
      }
    }
  }
}
