package graft

import graft.dedup.DedupOps
import graft.multimodal.MultimodalOps
import graft.sim.SimilarityOps
import graft.text.TextOps
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

class TrainingDataOpsSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.get
  import spark.implicits._

  private val sf = "/root/testdata/sf0.001"

  test("tokenize / quality / langid are deterministic and sane") {
    val df = Seq(
      (1L, "the quick brown fox the end"),
      (2L, ""),
      (3L, "der der die und und ist x")).toDF("doc_id", "text")
    val rows = df.select(col("doc_id"), TextOps.tokenCount(col("text")),
      TextOps.languageId(col("text"))).collect()
    assert(rows.map(r => (r.getLong(0), r.getInt(1), r.getString(2))).toSet ===
      Set((1L, 6, "en"), (2L, 0, "und"), (3L, 7, "de")))
  }

  test("fingerprint normalization collapses case/punct/whitespace variants") {
    val df = Seq(
      (1L, "Hello,  World!"),
      (2L, "hello world"),
      (3L, "something else")).toDF("doc_id", "text")
    val fps = df.select(TextOps.fingerprintMd5(col("text"))).collect().map(_.getString(0))
    assert(fps(0) === fps(1))
    assert(fps(0) !== fps(2))
  }

  test("shingles produce distinct n-grams; short docs yield one shingle") {
    val df = Seq("w1 w2 w3 w4", "tiny").toDF("text")
    val sh = df.select(DedupOps.shingles(col("text"), 3).as("s")).collect()
      .map(_.getSeq[String](0).toSet)
    assert(sh(0) === Set("w1 w2 w3", "w2 w3 w4"))
    assert(sh(1) === Set("tiny"))
  }

  test("minhash LSH finds a planted near-duplicate pair") {
    val base = "alpha beta gamma delta epsilon zeta eta theta iota kappa " * 3
    val nearDup = base + "lambda"
    val distinctDoc = "one two three four five six seven eight nine ten " * 3
    val df = Seq((1L, base), (2L, nearDup), (3L, distinctDoc)).toDF("doc_id", "text")
    val docs = df.select(col("doc_id"), DedupOps.shingles(col("text"), 3).as("sh"))
    val sigs = DedupOps.minhashSignatureNumeric(DedupOps.hashedShingles(col("sh")))
    val withBands = docs.select(col("doc_id") +: col("sh") +: sigs.map { case (n, c) => c.as(n) }: _*)
      .withColumn("bands", DedupOps.bandKeysNumeric((0 until 8).map(i => col(s"sig$i")), 2))
    val shSets = docs.select(col("doc_id"), col("sh"))
    val pairs = DedupOps.lshCandidatePairs(withBands, "doc_id", "bands")
      .join(shSets.toDF("doc_a", "sh_a"), "doc_a")
      .join(shSets.toDF("doc_b", "sh_b"), "doc_b")
      .select(col("doc_a"), col("doc_b"), DedupOps.jaccard(col("sh_a"), col("sh_b")).as("j"))
      .collect()
    assert(pairs.exists(r => r.getLong(0) === 1L && r.getLong(1) === 2L && r.getDouble(2) > 0.8))
    assert(!pairs.exists(r => r.getLong(1) === 3L || r.getLong(0) === 3L))
  }

  test("simhash: identical docs equal; near-identical docs within hamming 1") {
    val df = Seq((1L, "a b c d e f g h"), (2L, "a b c d e f g h"), (3L, "totally different words here now")).toDF("doc_id", "text")
    val out = df.select(col("doc_id"), DedupOps.simhash(col("text"), 8).as("s"))
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    assert(out(1L) === out(2L))
    assert(out(1L) >= 0 && out(1L) < 256)
  }

  test("knn brute force: self excluded, rank deterministic, k respected") {
    val emb = Tables.embeddings(spark, sf)
    val knn = SimilarityOps.knnBruteForce(emb.filter(col("vec_id") < 3), emb, "vec_id", "embedding", 4)
      .collect()
    assert(knn.length === 12)
    assert(!knn.exists(r => r.getLong(0) === r.getLong(1)))
    val ranks = knn.filter(_.getLong(0) == 0L).map(_.getInt(2)).sorted
    assert(ranks.toSeq === Seq(1, 2, 3, 4))
  }

  test("blocked knn only pairs within the same label block") {
    val emb = Tables.embeddings(spark, sf).limit(100).cache()
    val labels = emb.select("vec_id", "label").collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    val out = SimilarityOps.knnBlocked(emb, "vec_id", "embedding", "label", 2).collect()
    assert(out.nonEmpty)
    out.foreach(r => assert(labels(r.getLong(0)) === labels(r.getLong(1))))
  }

  test("multimodal: mapPartitions stub decode ≡ expression twin") {
    val docs = Tables.documents(spark, sf).limit(50)
      .select(col("doc_id"), col("text"),
        when(col("doc_id") % 3 === 0, "image").when(col("doc_id") % 3 === 1, "audio")
          .otherwise("video").as("media_type"))
      .withColumn("payload", MultimodalOps.fakePayload(col("text")))
      .cache()
    val viaPartitions = MultimodalOps.decodeMeta(docs, "doc_id", "payload", "media_type")
      .collect().map(r => (r.getLong(0), (r.getInt(2), r.getInt(3), r.getInt(4), r.getInt(5)))).toMap
    val metaCols = MultimodalOps.stubMetaColumns(md5(col("text")), col("media_type"))
    val viaExprs = docs.select(col("doc_id") +: metaCols.map { case (n, c) => c.as(n) }: _*)
      .collect().map(r => (r.getLong(0), (r.getInt(1), r.getInt(2), r.getInt(3), r.getInt(4)))).toMap
    assert(viaPartitions === viaExprs)
  }

  test("ImageIoDecoder decodes REAL PNG and JPEG bytes distributed through decodeMeta") {
    // render genuine image fixtures with the JDK (no external deps): the
    // decoder must report true pixel dimensions, executor-side, through
    // the same mapPartitions path the stub uses
    def imageBytes(w: Int, h: Int, format: String): Array[Byte] = {
      val img = new java.awt.image.BufferedImage(
        w, h, java.awt.image.BufferedImage.TYPE_INT_RGB)
      (0 until w).foreach(x => (0 until h).foreach(y =>
        img.setRGB(x, y, (x * 31 + y * 17) & 0xffffff)))
      val out = new java.io.ByteArrayOutputStream()
      assert(javax.imageio.ImageIO.write(img, format, out))
      out.toByteArray
    }
    val rows = Seq(
      (1L, imageBytes(17, 13, "png"), "image"),
      (2L, imageBytes(640, 480, "jpg"), "image"),
      (3L, imageBytes(3, 200, "png"), "image"))
    val df = rows.toDF("media_id", "payload", "media_type")
    val metas = MultimodalOps.decodeMeta(
        df, "media_id", "payload", "media_type", MultimodalOps.ImageIoDecoder)
      .collect().map(r => r.getLong(0) -> ((r.getInt(2), r.getInt(3)))).toMap
    assert(metas === Map(1L -> ((17, 13)), 2L -> ((640, 480)), 3L -> ((3, 200))))
    // an undecodable payload is a deterministic error, not fake dims
    intercept[Exception] {
      MultimodalOps.ImageIoDecoder.decode("not an image".getBytes, "image")
    }
  }

  test("WavDecoder decodes REAL WAV bytes; routing decoder picks the codec per modality") {
    // genuine PCM WAV fixture via the JDK (no external deps): 1600 frames
    // of 16-bit mono at 16 kHz = 100 ms
    def wavBytes(sampleRate: Float, nFrames: Int): Array[Byte] = {
      val fmt = new javax.sound.sampled.AudioFormat(sampleRate, 16, 1, true, false)
      val pcm = new Array[Byte](nFrames * 2)
      pcm.indices.foreach(i => pcm(i) = ((i * 37) & 0xff).toByte)
      val in = new javax.sound.sampled.AudioInputStream(
        new java.io.ByteArrayInputStream(pcm), fmt, nFrames.toLong)
      val out = new java.io.ByteArrayOutputStream()
      javax.sound.sampled.AudioSystem.write(
        in, javax.sound.sampled.AudioFileFormat.Type.WAVE, out): Unit
      out.toByteArray
    }
    val m = MultimodalOps.WavDecoder.decode(wavBytes(16000f, 1600), "audio")
    assert(m.sampleRate === 16000)
    assert(m.nFrames === 1600)
    intercept[IllegalArgumentException] {
      MultimodalOps.WavDecoder.decode("not audio".getBytes, "audio")
    }
    // routing: image payloads hit ImageIO, audio hits javax.sound, video
    // falls back to the stub — all through the same mapPartitions batch
    def png(w: Int, h: Int): Array[Byte] = {
      val img = new java.awt.image.BufferedImage(
        w, h, java.awt.image.BufferedImage.TYPE_INT_RGB)
      val out = new java.io.ByteArrayOutputStream()
      assert(javax.imageio.ImageIO.write(img, "png", out))
      out.toByteArray
    }
    val rows = Seq(
      (1L, png(17, 13), "image"),
      (2L, wavBytes(8000f, 800), "audio"),
      (3L, Array[Byte](5, 6, 7, 8), "video"))
    val metas = MultimodalOps.decodeMeta(
        rows.toDF("media_id", "payload", "media_type"),
        "media_id", "payload", "media_type", MultimodalOps.ModalityRoutingDecoder)
      .collect()
      .map(r => r.getLong(0) -> ((r.getInt(2), r.getInt(3), r.getInt(4), r.getInt(5))))
      .toMap
    assert(metas(1L) === ((17, 13, 1, 0)))
    assert(metas(2L) === ((0, 0, 800, 8000)))
    assert(metas(3L) === ((5 * 16 + 64, 6 * 16 + 64, 7 + 1, 0))) // stub path
  }

  test("frame sample plan strides over n_frames") {
    val df = Seq(9, 1, 0).toDF("n_frames")
    val plans = df.select(MultimodalOps.frameSamplePlan(col("n_frames"), 4).as("p"))
      .collect().map(_.getSeq[Int](0).toSeq)
    assert(plans(0) === Seq(0, 4, 8))
    assert(plans(1) === Seq(0))
    assert(plans(2) === Seq.empty)
  }

  test("LSH hyperplanes are deterministic and bounded") {
    val p1 = SimilarityOps.lshHyperplanes(8, 16)
    val p2 = SimilarityOps.lshHyperplanes(8, 16)
    assert(p1 === p2)
    assert(p1.flatten.forall(v => v >= -1000 && v <= 1000))
    // distinct planes (md5 keeps them independent)
    assert(p1.distinct.length === 8)
  }

  test("knnLsh: positive scalar multiples share every sign bit and rank first") {
    // v and 2·v have identical hyperplane signs → same bucket, cosine 1.0
    val base = Seq.tabulate(8)(i => (i % 3 - 1).toFloat + 0.5f)
    val rows = Seq(
      (0L, base.toArray),
      (1L, base.map(_ * 2).toArray),
      (2L, base.map(x => -x).toArray)) // antipode: all bits flipped
    val df = rows.toDF("vec_id", "embedding")
    val out = SimilarityOps.knnLsh(df.filter($"vec_id" === 0), df,
        "vec_id", "embedding", k = 2, bits = 6, dim = 8)
      .orderBy("rank").collect()
    assert(out.nonEmpty)
    assert(out.head.getAs[Long]("neighbor_id") === 1L)
    assert(math.abs(out.head.getAs[Double]("cosine") - 1.0) < 1e-12)
    // the antipode can never share the bucket (every bit differs)
    assert(!out.map(_.getAs[Long]("neighbor_id")).contains(2L))
  }

  test("multi-table LSH near-dup pairs are a superset of the single-table set") {
    val emb = Tables.embeddings(spark, sf)
    def pairs(df: org.apache.spark.sql.DataFrame) =
      df.select("id_a", "id_b").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
    val single = pairs(SimilarityOps.nearDupPairsLsh(emb, "vec_id", "embedding", 0.3))
    val multi = pairs(SimilarityOps.nearDupPairsLshMulti(
      emb, "vec_id", "embedding", 0.3, tables = 2))
    assert(single.subsetOf(multi),
      "table 0 of the multi draw must reproduce the single-table pairs exactly")
    // and the second draw is genuinely different planes
    assert(SimilarityOps.lshHyperplanes(4, 8, "t1|") !==
      SimilarityOps.lshHyperplanes(4, 8))
  }

  test("tagged multi-table LSH pass equals the per-table union form (r19)") {
    val emb = Tables.embeddings(spark, sf)
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val tagged = rows(SimilarityOps.nearDupPairsLshMulti(
      emb, "vec_id", "embedding", 0.3, tables = 2))
    val union = rows(ParityReferences.nearDupPairsLshMultiUnion(
      emb, "vec_id", "embedding", 0.3, tables = 2))
    assert(tagged === union,
      "one tagged explode must emit exactly the per-table pipelines' union")
    assert(tagged.nonEmpty)
  }

  test("blocked n-gram jaccard keeps identical docs at 1.0") {
    val df = Seq(
      (1L, "en", "alpha beta gamma delta"),
      (17L, "en", "alpha beta gamma delta"), // same bucket (1 % 16 == 17 % 16)
      (2L, "en", "zz yy xx ww")).toDF("doc_id", "lang", "text")
    val sh = df.select(col("doc_id"), col("lang"), (col("doc_id") % 16).as("b"),
      DedupOps.shingles(col("text"), 2).as("sh"))
    val pairs = sh.join(
        sh.select(col("doc_id").as("p"), col("lang").as("l2"), col("b").as("b2"),
          col("sh").as("sh2")),
        col("lang") === col("l2") && col("b") === col("b2") && col("doc_id") =!= col("p"))
      .select(col("doc_id"), col("p"), DedupOps.jaccard(col("sh"), col("sh2")).as("j"))
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    assert(pairs((1L, 17L)) === 1.0)
    assert(!pairs.contains((1L, 2L))) // different bucket
  }

  test("x22 run-length fold ≡ naive distinct×filter top-token count (property)") {
    val rnd = new scala.util.Random(42)
    val alphabet = Vector("a", "b", "bb", "c", "δ", "tok")
    val cases: Seq[Seq[String]] =
      Seq(Seq.empty[String], Seq("a"), Seq("a", "a", "a"), Seq("", "", "a")) ++
        (1 to 60).map(_ => Seq.fill(rnd.nextInt(30) + 1)(
          alphabet(rnd.nextInt(alphabet.size))))
    val df = cases.zipWithIndex.map { case (ts, i) => (i.toLong, ts) }
      .toDF("doc_id", "toks")
    val naive = expr(
      "array_max(transform(array_distinct(toks), t -> size(filter(toks, x -> x = t))))")
      .cast("long")
    val out = df.select(col("doc_id"),
        QueriesTrainingData.topTokenCount(col("toks")).as("fold"),
        naive.as("naive"))
      .collect()
    out.foreach { r =>
      assert(r.isNullAt(1) === r.isNullAt(2), s"null mismatch on doc ${r.getLong(0)}")
      if (!r.isNullAt(1))
        assert(r.getLong(1) === r.getLong(2), s"count mismatch on doc ${r.getLong(0)}")
    }
  }

  test("x26 chunk windows: boundaries, overlap, and short-doc truncation") {
    // W=64, S=48: a 113-token doc yields 3 chunks (1..64, 49..112, 97..113)
    val toks113 = (1 to 113).map(i => s"t$i").mkString(" ")
    val df = Seq((1L, toks113), (2L, "a b c")).toDF("doc_id", "text")
    val out = QueriesTrainingData.x26_chunk_windows(spark,
        "/root/testdata/sf0.001")
    assert(out.columns.toSeq === Seq("doc_id", "chunk_idx", "n_tokens", "chunk"))
    // behavioral check on handmade docs via the same expression pipeline:
    // reuse the operator body by writing the frame and re-deriving below
    val W = 64; val S = 48
    val chunks = df
      .select(col("doc_id"), graft.text.TextOps.tokens(col("text")).as("toks"))
      .select(col("doc_id"), col("toks"),
        explode(sequence(lit(0L),
          greatest(lit(0L), expr(s"(size(toks) - $W + ${S - 1}) div $S")))).as("i"))
      .select(col("doc_id"), col("i"),
        size(slice(col("toks"), (col("i") * S + 1).cast("int"), lit(W))).as("n"))
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getInt(2)).toMap
    assert(chunks((1L, 0L)) === 64)
    assert(chunks((1L, 1L)) === 64) // tokens 49..112
    assert(chunks((1L, 2L)) === 17) // tokens 97..113
    assert(chunks((2L, 0L)) === 3) // short doc: one truncated chunk
    assert(!chunks.contains((2L, 1L)))
  }

  test("x27 PII scrub redacts seeded emails, phones, IPs, cards; order holds") {
    val seeded = Seq(
      (1L, "contact jane.doe+x@example.co.uk for details"),
      (2L, "call +1 (555) 123-4567 tomorrow"),
      (3L, "server at 192.168.10.255 responded"),
      (4L, "card 4111111111111111 declined"),
      (5L, "plain text with no pii at all")).toDF("doc_id", "text")
    // drive the same expressions the operator uses, over seeded rows: the
    // gated query proves engine/oracle parity, this proves the redaction
    val email = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z][A-Za-z]+"
    val card = "\\b[0-9]{13,16}\\b"
    val phone = "\\+?[0-9][0-9 ()-]{6,18}[0-9]"
    val ip = "\\b[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\b"
    val out = seeded.select(col("doc_id"),
        regexp_replace(regexp_replace(regexp_replace(regexp_replace(col("text"),
          email, "<EMAIL>"), ip, "<IP>"), card, "<CARD>"), phone, "<PHONE>")
          .as("s"))
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(out(1L) === "contact <EMAIL> for details")
    assert(out(2L) === "call <PHONE> tomorrow")
    assert(out(3L) === "server at <IP> responded")
    assert(out(4L) === "card <CARD> declined") // card, never a phone match
    assert(out(5L) === "plain text with no pii at all")
  }

  test("x28 substring dup: planted duplicate 8-gram spans are found, unique docs score 0") {
    val shared = (1 to 8).map(i => s"dup$i").mkString(" ")
    val df = Seq(
      (1L, shared + " alpha beta gamma delta epsilon zeta eta theta"),
      (2L, shared + " one two three four five six seven eight"),
      (3L, "unique tokens only here never repeated anywhere at all"))
      .toDF("doc_id", "text")
    val grams = df.select(col("doc_id"),
      explode(graft.text.TextOps.ngrams(
        graft.text.TextOps.tokens(col("text")), 8)).as("gram"))
    val cdg = grams.groupBy(col("doc_id"), col("gram")).agg(count(lit(1)).as("c"))
    val cg = cdg.groupBy(col("gram")).agg(sum(col("c")).as("cnt"))
    val out = cdg.join(cg, "gram").groupBy(col("doc_id"))
      .agg(sum(when(col("cnt") > 1, col("c")).otherwise(lit(0L))).as("dup"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    // docs 1 and 2 share exactly the one leading 8-gram; doc 3 shares none
    assert(out(1L) === 1L)
    assert(out(2L) === 1L)
    assert(out(3L) === 0L)
  }

  test("x33 survivorship: richest copy wins, min-id breaks distinct-count ties") {
    // three copies sharing one 5-token prefix key: doc 10 has the most
    // distinct tokens (wins over the lower-id doc 5); docs 20/21 tie on
    // distinct count → smaller id 20 survives
    val docs = Seq(
      (5L, "a b c d e a a a"), // nd=5
      (10L, "a b c d e f g h"), // nd=8 → survivor
      (12L, "a b c d e x y x"), // nd=7
      (20L, "p q r s t u"), // nd=6, tie
      (21L, "p q r s t u"), // nd=6, tie → loses on id
      (30L, "lone doc body here five six")).toDF("doc_id", "text")
    val spark2 = spark; import spark2.implicits._
    val out = QueriesTrainingData.x33From(docs)
      .collect().map(r => r.getLong(2) -> ((r.getLong(1), r.getLong(3)))).toMap
    // keyed by survivor_id -> (best_distinct, group_size)
    assert(out(10L) === ((8L, 3L)))
    assert(out(20L) === ((6L, 2L)))
    assert(out(30L) === ((6L, 1L)))
    assert(!out.contains(5L) && !out.contains(21L))
  }

  test("x35 rarity scoring: token accounting closes and keep follows the 20% rule") {
    val out = QueriesTrainingData.x35_rare_token_score(spark, sf)
      .select("doc_id", "n_tokens", "n_rare", "max_surprisal", "keep").collect()
    assert(out.nonEmpty)
    // every token is at least as probable as the rarest: surprisal >= 1
    out.foreach { r =>
      val (nt, nr, ms, keep) = (r.getLong(1), r.getLong(2), r.getDouble(3), r.getBoolean(4))
      assert(nr <= nt && ms >= 1.0)
      assert(keep === (nr * 5 < nt))
    }
    // per-doc token counts must sum to the corpus total the LM normalizes by
    val corpusTokens = Tables.documents(spark, sf)
      .select(explode(TextOps.tokens(col("text"))).as("t"))
      .filter(col("t") =!= "").count()
    assert(out.map(_.getLong(1)).sum === corpusTokens)
  }

  test("x36 leakage-safe split: a dup cluster never straddles splits") {
    val out = QueriesTrainingData.x36_leakage_safe_split(spark, sf)
    val perKey = out.groupBy(col("dup_key"))
      .agg(countDistinct(col("split")).as("nsplits"), count(lit(1)).as("n"))
      .collect()
    assert(perKey.exists(_.getLong(2) > 1), "fixture should contain duplicate clusters")
    perKey.foreach(r => assert(r.getLong(1) === 1L,
      s"dup cluster ${r} spans multiple splits"))
    // buckets live in [0, 100) and the split labels follow them
    assert(out.filter(col("bucket") < 0 || col("bucket") >= 100).count() === 0)
  }

  test("x37 int8 quantization: codes bounded, norm matches codes, scale is max-abs") {
    val out = QueriesTrainingData.x37_embed_quantize(spark, sf).collect()
    assert(out.nonEmpty)
    out.foreach { r =>
      val codes = r.getAs[String]("q_csv").split(",").map(_.toInt)
      assert(codes.forall(c => c >= -127 && c <= 127))
      assert(r.getAs[Long]("q_norm2") === codes.map(c => c.toLong * c).sum)
    }
    // spot-check one vector's scale and codes against a driver-side recompute
    val first = Tables.embeddings(spark, sf).orderBy(col("vec_id")).head()
    val emb = first.getSeq[Float](first.fieldIndex("embedding")).map(_.toDouble)
    val expScale = emb.map(math.abs).max
    val expCodes =
      if (expScale == 0) emb.map(_ => 0)
      else emb.map(v => math.floor(v / expScale * 127.0 + 0.5).toInt)
    val got = out.find(_.getAs[Long]("vec_id") == first.getLong(0)).get
    assert(got.getAs[Double]("scale") === expScale)
    assert(got.getAs[String]("q_csv") === expCodes.mkString(","))
  }

  test("x38 leakage audit: cells partition the near-dup pairs, leaky = off-diagonal") {
    val cells = QueriesTrainingData.x38_split_leakage_audit(spark, sf).collect()
    assert(cells.nonEmpty)
    cells.foreach { r =>
      assert(r.getBoolean(3) === (r.getString(0) != r.getString(1)))
    }
    val totalPairs = QueriesTrainingData.x06_dedup_minhash_lsh(spark, sf)
      .filter(col("jaccard") >= 0.5).count()
    assert(cells.map(_.getLong(2)).sum === totalPairs)
  }

  test("x52 CDC chunking is shift-robust: an insertion changes only local chunks") {
    // two documents: B = A with a phrase spliced into the middle. With
    // content-defined boundaries, chunks outside the edited region keep
    // their fingerprints — the property fixed-window chunking lacks.
    val base = (1 to 400).map(i => s"tok${i * 7 % 131}w$i").mkString(" ")
    val edited = {
      val toks = base.split(" ")
      (toks.take(200) ++ Seq("INSERTED", "PHRASE", "HERE") ++ toks.drop(200)).mkString(" ")
    }
    val dir = java.nio.file.Files.createTempDirectory("graft_cdc_test").toString
    Seq((1L, base, "en", "src0", base.length.toLong),
        (2L, edited, "en", "src0", edited.length.toLong))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val chunks = QueriesTrainingData.x52_cdc_chunking(spark, dir)
      .select(col("doc_id"), col("chunk_md5")).collect()
      .groupBy(_.getLong(0)).map { case (k, v) => k -> v.map(_.getString(1)).toSet }
    val shared = chunks(1L).intersect(chunks(2L))
    // every chunk fully before or after the edit survives; only the
    // chunk(s) spanning the insertion point differ
    assert(shared.nonEmpty, "no chunk fingerprints survived a local edit")
    assert((chunks(1L) -- shared).size <= 2,
      s"edit invalidated ${(chunks(1L) -- shared).size} of ${chunks(1L).size} original chunks")
    def rm(f: java.io.File): Unit = {
      Option(f.listFiles).getOrElse(Array.empty[java.io.File]).foreach(rm)
      f.delete(): Unit
    }
    rm(new java.io.File(dir))
  }

  test("training-data operators free their internal caches on return") {
    val dir = sf
    // earlier tests in this (shared) session cache their own fixtures;
    // start from a clean slate so the assertion isolates each operator
    spark.sharedState.cacheManager.clearCache()
    for (q <- Seq("x06_dedup_minhash_lsh", "x12_ngram_jaccard", "x14_clean_corpus")) {
      val res = SparkEntry.queries(q)(spark, dir)
      assert(res.count() > 0, s"$q returned no rows")
      assert(spark.sharedState.cacheManager.isEmpty,
        s"$q left entries in the SQL cache manager")
    }
  }

  test("x114: importance resampling excludes the target slice and ranks by per-token score") {
    spark.sharedState.cacheManager.clearCache()
    val rows = QueriesTrainingData.x114_importance_resample(spark, sf).collect()
    assert(rows.nonEmpty && rows.length <= 40)
    // the resampled slice is drawn from the raw pool only — never from
    // the curated target sample that defines the importance weights
    rows.foreach { r =>
      val tgt = r.getAs[String]("lang") == "en" &&
        Set("src0", "src1").contains(r.getAs[String]("source"))
      assert(!tgt, s"target-slice doc ${r.getAs[Long]("doc_id")} leaked into the resample")
    }
    val perTok = rows.map(_.getAs[Long]("imp_per_tok"))
    assert(perTok.zip(perTok.tail).forall { case (a, b) => a >= b },
      "resample must be ordered by descending per-token importance")
    // integer-grid scores: per-token score is the truncated quotient
    rows.foreach { r =>
      assert(r.getAs[Long]("imp_per_tok") ===
        r.getAs[Long]("imp_score") / r.getAs[Long]("n_tok"))
    }
    assert(spark.sharedState.cacheManager.isEmpty,
      "x114 must unpersist its term-frequency cache")
  }

  test("x115: topic-balanced sample fills every quota with dense ranks") {
    val out = QueriesTrainingData
      .x115_topic_balanced_sample(spark, "/root/testdata/sf0.01")
      .cache()
    val perTopic = out.groupBy(col("topic")).agg(count(lit(1)).as("n"),
      max(col("rk")).as("mx"), countDistinct(col("doc_id")).as("nd"))
      .collect()
    out.unpersist()
    assert(perTopic.length === 8, "all 8 topics must contribute")
    // quota respected, ranks dense 1..n, no document sampled twice
    // (exactness of the sketch prune vs the naive per-topic bottom-k is
    // the oracle's job — x115Oracle replays the UNPRUNED form)
    perTopic.foreach { r =>
      val n = r.getAs[Long]("n")
      assert(n <= 12 && n === r.getAs[Int]("mx").toLong &&
        n === r.getAs[Long]("nd"), s"quota/rank mismatch: $r")
    }
  }

  test("x116: DoReMi reweight upweights rare-token domains, mixture sums to ~1e6") {
    spark.sharedState.cacheManager.clearCache()
    val rows = QueriesTrainingData.x116_doremi_reweight(spark, sf).collect()
    assert(rows.length > 1, "need several domains to reweight")
    // a normalized mixture: ppm sum within truncation loss of 1e6
    val tot = rows.map(_.getAs[Long]("new_ppm")).sum
    assert(tot <= 1000000L && tot > 1000000L - rows.length,
      s"mixture ppm sum $tot out of truncation band")
    // the update is monotone: a domain with HIGHER mean rarity than
    // another but equal reference share can never end up below it —
    // check the ratio column is ordered with mean_rarity
    val byRarity = rows.sortBy(_.getAs[Long]("mean_rarity"))
    val ratios = byRarity.map(_.getAs[Long]("ratio_ppm"))
    assert(ratios.zip(ratios.tail).forall { case (a, b) => a <= b },
      "ratio_ppm must be monotone in mean_rarity")
    // upweighting really happened somewhere: not all ratios equal
    assert(ratios.distinct.length > 1, "degenerate reweight")
    assert(spark.sharedState.cacheManager.isEmpty,
      "x116 must unpersist its term-frequency cache")
  }

  test("x59: serpentine sharding balances token mass and spreads every shard") {
    val shards = QueriesTrainingData
      .x59_balanced_shards(spark, "/root/testdata/sf0.01")
      .groupBy(col("shard"))
      .agg(sum(col("n_tokens")).as("mass"), count(lit(1)).as("n"))
      .collect()
    assert(shards.length === 16, "every shard must receive documents")
    val masses = shards.map(_.getAs[Long]("mass").toDouble)
    // serpentine dealing over the size-sorted order bounds per-batch skew
    // to one document's difference per pair of batches; on a real corpus
    // the totals land within a few percent of each other
    assert(masses.max / masses.min < 1.05,
      s"shard token mass unbalanced: min=${masses.min} max=${masses.max}")
    val counts = shards.map(_.getAs[Long]("n"))
    assert(counts.max - counts.min <= 1,
      "round-robin must spread row counts within 1")
  }

  test("x118: margin mining — one row per source, hub filtering, exact grid") {
    val rows = QueriesTrainingData.x118_bitext_margin_mining(spark, sf)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getBoolean(4)))
    // one mined pair per batch source vector (top-1 target by margin)
    assert(rows.map(_._1).distinct.length === rows.length)
    assert(rows.nonEmpty && rows.forall(_._1 < 32))
    // the mined target is in the other pool by construction; margin is
    // positive on the ppm grid and accepted iff it clears 1e6
    rows.foreach { case (_, _, d, m, acc) =>
      assert(d >= 0L && m >= 0L)
      assert(acc === (m > 1050000L))
    }
  }

  test("x119: k-anonymity groups partition the corpus; risk flags match k=5") {
    val rows = QueriesTrainingData.x119_k_anonymity_audit(spark, sf)
      .collect().map(r => (r.getLong(3), r.getBoolean(4)))
    val total = Tables.documents(spark, sf).count()
    assert(rows.map(_._1).sum === total, "QI groups must partition the corpus")
    rows.foreach { case (n, risk) => assert(risk === (n < 5L)) }
    assert(rows.exists(!_._2), "expected at least one safe group")
  }

  test("x120: ablation recalls are in [0,1]; hits never exceed the GT size") {
    val rows = QueriesTrainingData.x120_retrieval_ablation(spark, sf)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getDouble(2)))
    assert(rows.map(_._1).sorted.toList === List("dense", "hybrid", "sparse"))
    val nGt = QueriesTrainingData.stagedExactTop5(spark, sf).count()
    rows.foreach { case (leg, h, rec) =>
      assert(h >= 0L && h <= nGt, s"$leg hits out of range: $h")
      assert(rec >= 0.0 && rec <= 1.0)
      assert(math.abs(rec - h.toDouble / nGt.toDouble) < 1e-12)
    }
    // the dense leg scores against its own geometry's ground truth — it
    // must recover a nontrivial share (the x108 audit pins >= 0.5)
    assert(rows.find(_._1 == "dense").get._3 >= 0.3)
  }

  test("x121: exact re-rank over the ADC pool recovers recall (audit decides)") {
    import spark.implicits._
    val gt = QueriesTrainingData.stagedExactTop5(spark, sf)
      .select("query_id", "neighbor_id").as[(Long, Long)].collect().toSet
    val adc = SparkEntry.queries("x108_pq_ann")(spark, sf)
      .select("query_id", "neighbor_id").as[(Long, Long)].collect().toSet
    val rr = QueriesTrainingData.x121_ann_rerank(spark, sf)
      .select("query_id", "neighbor_id").as[(Long, Long)].collect().toSet
    assert(rr.size === adc.size, "both stages must emit top-5 per query")
    val hitsAdc = (adc intersect gt).size
    val hitsRr = (rr intersect gt).size
    // the refine step may never LOSE recall vs ADC-only ranking
    assert(hitsRr >= hitsAdc, s"re-rank lost recall: $hitsRr < $hitsAdc")
    // and on this corpus the top-100 pool nearly always contains the
    // true top-5 - the re-rank should sit near exact (x108's ADC-only
    // recall is ~0.68; the whole point of the second stage)
    assert(hitsRr.toDouble / gt.size >= 0.8,
      s"re-rank recall collapsed: ${hitsRr.toDouble / gt.size}")
  }

  test("x122: MRL truncation recall is per (query, dim); wider prefix never worse on average") {
    val rows = QueriesTrainingData.x122_mrl_truncation_recall(spark, sf)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getInt(3)))
    // 10 bounded queries x 2 truncation dims
    assert(rows.length === 20)
    assert(rows.map(_._4).distinct.sorted.toList === List(16, 32))
    rows.foreach { case (_, n, rec, _) =>
      assert(n >= 0L && n <= 5L)
      assert(math.abs(rec - n.toDouble / 5.0) < 1e-12)
    }
    // the audit's verdict on random vectors: truncation CANNOT keep
    // neighbor structure (no front-loaded dims) — mean recall must sit
    // far below the serving bar, which is the audit doing its job
    val mean32 = rows.filter(_._4 == 32).map(_._3).sum / 10.0
    assert(mean32 <= 0.7, s"random vectors cannot have MRL structure: $mean32")
  }

  test("x123: l-diversity groups partition the corpus; verdict matches l=2") {
    val rows = QueriesTrainingData.x123_l_diversity_audit(spark, sf)
      .collect().map(r => (r.getLong(2), r.getLong(3), r.getBoolean(4)))
    val total = Tables.documents(spark, sf).count()
    assert(rows.map(_._1).sum === total, "QI groups must partition the corpus")
    rows.foreach { case (n, l, div) =>
      assert(l >= 1L && l <= n)
      assert(div === (l >= 2L))
    }
    assert(rows.exists(_._3), "expected at least one diverse group")
  }

  test("x124: semantic cluster dedup partitions the corpus; max-centroid member survives") {
    val rows = QueriesTrainingData.x124_semantic_cluster_dedup(spark, sf)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2),
        r.getBoolean(3)))
    val total = Tables.embeddings(spark, sf).count()
    // every vector appears exactly once (cluster assignment partitions)
    assert(rows.length.toLong === total)
    assert(rows.map(_._1).distinct.length === rows.length)
    // the gate's replayable quantizer has 8 seeded cells (attrition may
    // drop some, never add)
    val cells = rows.map(_._2).distinct
    assert(cells.nonEmpty && cells.forall(c => c >= 0 && c < 8))
    // the keep-farthest-from-centroid rule can never prune a cell's
    // max-centroid-distance member (ties survive at the LOWEST id):
    // dominance requires a strictly-farther partner or an id tie-break
    // in the survivor's favor
    rows.groupBy(_._2).foreach { case (cell, members) =>
      val keeper = members.minBy(m => (-m._3, m._1))
      assert(!keeper._4,
        s"cell $cell pruned its farthest-from-centroid member $keeper")
    }
    // the measured threshold (~p01 of within-cell pairs) must actually
    // prune something, and never everything
    val nPruned = rows.count(_._4)
    assert(nPruned > 0, "threshold pruned nothing — the audit is inert")
    assert(nPruned < rows.length / 2, s"threshold pruned half the corpus: $nPruned")
  }

  test("lshCandidatePairsTagged equals the per-config union of lshCandidatePairs (x98 shape)") {
    // the r18-opt single-pass candidate sweep must reproduce the former
    // four-pipeline union exactly, per config — including per-config
    // bucket grouping and maxBucket semantics
    val configs = Seq((1, 8), (2, 4), (4, 2), (8, 1))
    val docs = Tables.documents(spark, sf).select(col("doc_id"), col("text"))
    val sig = docs.select(col("doc_id"),
      DedupOps.minhashSignatureArray(
        DedupOps.hashedShinglesOf(TextOps.tokens(col("text")), 3)).as("sig"))
    val ref = configs.map { case (r, b) =>
      val banded = sig.select(col("doc_id"),
        DedupOps.bandKeysFromSigArray(col("sig"), r, b).as("bands"))
      DedupOps.lshCandidatePairs(banded, "doc_id", "bands")
        .select(lit(r).as("rows_per_band"), lit(b).as("n_bands"),
          col("doc_a"), col("doc_b"))
    }.reduce(_ unionByName _)
      .as[(Int, Int, Long, Long)].collect().toSet
    val bandStructs = concat(configs.map { case (r, b) =>
      transform(DedupOps.bandKeysFromSigArray(col("sig"), r, b),
        (k, i) => struct(lit(r).as("r"), lit(b).as("nb"),
          i.as("band_idx"), k.as("band_key")))
    }: _*)
    val exploded = sig
      .select(col("doc_id").as("__id"), explode(bandStructs).as("e"))
      .select(col("__id"), col("e.r").as("rows_per_band"),
        col("e.nb").as("n_bands"), col("e.band_idx").as("band_idx"),
        col("e.band_key").as("band_key"))
    val got = DedupOps.lshCandidatePairsTagged(exploded,
        Seq("rows_per_band", "n_bands"))
      .as[(Int, Int, Long, Long)].collect().toSet
    assert(got === ref, "tagged candidate sweep drifted from the per-config union")
    assert(got.nonEmpty)
  }
}
